#!/usr/bin/env python3
"""Lakehouse benchmark: one workload run.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (offline, like the tier-1 command)
and caches the classpath under .bench_build/; sbt start-up is outside
every timing. Each run then starts one JVM (Spark local mode, at most
4 cores) in a run directory under .bench_build/, checks the outputs it
leaves against DuckDB, deletes the run directory and prints one JSON
object as its last line of standard output.

See lakebench/README.md for the workloads, metrics and reference figures.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "lakebench"
WORKLOADS = ["ingest", "er_incremental", "analytics"]
# a run's JVM may take this long beyond --seconds: start, input
# generation, warm-up and the one round that may end past --seconds
RUN_SLACK_S = 150
BUILD_LIMIT_S = 800
# The graph cap of the driver-local fast paths (LocalGraph), set through
# the program's own environment knob so that at this input size q190's
# co-purchase graph takes the distributed path while q104's and q206's
# graphs stay under the cap and run on the driver.
GRAPH_LOCAL_MAX = "100000"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources():
    """Every file the build reads: the program's and the benchmark's."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles with sbt when any source changed; returns the classpath."""
    for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft"):
        if not p.exists():
            fail(f"{p} is missing: run from the root of a full checkout")
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    cp_file = WORK / "classpath.txt"
    if cp_file.exists():
        lines = cp_file.read_text().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    log("building with sbt (first run of this source tree)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export lakebench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("sbt build failed", 3)
    shutil.rmtree(WORK / "jars", ignore_errors=True)
    (WORK / "jars").mkdir(parents=True)
    entries = []
    for i, e in enumerate(cp[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):  # class archives need jars, not directories
            jar = WORK / "jars" / f"{i}.jar"
            subprocess.run(["jar", "cf", str(jar), "-C", e, "."], check=True)
            e = str(jar)
        entries.append(e)
    classpath = os.pathsep.join(entries)
    archive(classpath)
    log(f"built in {time.time() - t0:.0f} s")
    cp_file.write_text(stamp + "\n" + classpath + "\n")
    return classpath


def jvm(classpath):
    """The JVM command line shared by the archive training run and the
    benchmark runs; a class archive is used only with the same flags."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath])


def archive(classpath):
    """Records the classes a short training run loads into a class data
    sharing archive, which cuts each run's JVM and Spark start-up by a
    few seconds. Every run uses it, so a build that cannot make it fails:
    runs with and without it would differ in `setup_s`."""
    jsa = WORK / "classes.jsa"
    jsa.unlink(missing_ok=True)
    train = WORK / "train"
    shutil.rmtree(train, ignore_errors=True)
    train.mkdir(parents=True)
    (train / "tmp").mkdir(parents=True)
    try:
        p = subprocess.run(jvm(classpath)[:1] + [f"-XX:ArchiveClassesAtExit={jsa}",
                                                 f"-Djava.io.tmpdir={train / 'tmp'}"] +
                           jvm(classpath)[1:] + ["lakebench.Train", str(train / "data")],
                           cwd=train, env=child_env(train), stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    if p.returncode != 0 or not jsa.exists():
        sys.stderr.write(p.stderr[-4000:])
        jsa.unlink(missing_ok=True)
        fail("could not make the class archive", 3)


def child_env(run):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k != "OMP_NUM_THREADS"}
    env["SPARK_LOCAL_DIRS"] = str(run / "spark-local")
    return env


def die_with_parent():
    """Linux: the JVM gets SIGKILL if this script dies, however it dies."""
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_jvm(cp, args, run):
    tmp = run / "tmp"
    tmp.mkdir(parents=True)
    env = child_env(run)
    if args.workload == "analytics":
        env["SPARK_GRAFT_GRAPH_LOCAL_MAX"] = GRAPH_LOCAL_MAX
    trace_file = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
    trace_file.parent.mkdir(parents=True, exist_ok=True)
    jsa = WORK / "classes.jsa"
    if not jsa.exists():
        fail(f"{jsa} is missing: delete {WORK / 'classpath.txt'} to rebuild", 3)
    cmd = (jvm(cp)[:1] + [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on",
                          f"-Djava.io.tmpdir={tmp}"] + jvm(cp)[1:] +
           ["lakebench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run", str(run), "--trace-file", str(trace_file)])
    proc = subprocess.Popen(cmd, cwd=run, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr, preexec_fn=die_with_parent)
    limit = args.seconds + RUN_SLACK_S
    try:
        code = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        code = f"a timeout after {limit} s"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 4)
    if args.trace:
        log(f"spans written to {trace_file}")
    return json.loads((run / "result.json").read_text())


def main():
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory deleted on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail(f"{spec_file} is missing")
    spec = json.loads(spec_file.read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    run = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    try:
        res = run_jvm(cp, args, run)
        import checks
        problems = checks.check(args.workload, run, res["rounds"] - 1)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}", 5)
    out = {
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    log(f"{args.workload}: {res['rounds']} rounds, round_s {res['round_s']}")
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    main()
