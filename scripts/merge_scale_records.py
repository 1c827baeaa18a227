#!/usr/bin/env python3
"""Merge subset scaling-sweep records into the full per-SF records.

Usage: merge_scale_records.py <base.json> <patch.json> [<patch2.json> ...] --out <merged.json>

Each patch's `queries` (and its per-rep maps `reps`, `codegen_compiles`
and `codegen_ms`, when present) overwrite/extend the base record's; a
patched query drops the base's per-rep figures. Used when a new query
tier or a rewritten operator is swept solo (SPARK_GRAFT_BENCH_ONLY)
instead of re-running the whole 82-query sweep. The merged record keeps
the base's metadata, clears the bench_only stamp (the merged map is
full-coverage for the fit), and lists every contributing git_head so a
reader can see which commit measured which rows.
"""
import json
import sys

PER_REP = ("reps", "codegen_compiles", "codegen_ms")

args = sys.argv[1:]
i = args.index("--out")
out = args[i + 1]
paths = args[:i]

base = json.load(open(paths[0]))
heads = {base.get("git_head", "?")}
for p in paths[1:]:
    patch = json.load(open(p))
    base["queries"].update(patch["queries"])
    for key in PER_REP:
        # a patched query keeps no per-rep figure of the base's run
        for q in patch["queries"]:
            base.get(key, {}).pop(q, None)
        if key in patch:
            base.setdefault(key, {}).update(patch[key])
    heads.add(patch.get("git_head", "?"))
base["git_heads_merged"] = sorted(heads)
base["bench_only"] = None
base["n_queries"] = len(base["queries"])
base["total_sec"] = base["value"] = round(
    sum(t for t in base["queries"].values() if t >= 0), 4)
with open(out, "w") as f:
    json.dump(base, f)
print(f"{out}: {base['n_queries']} queries, total {base['total_sec']} s")
