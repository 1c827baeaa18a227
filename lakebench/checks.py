"""Output checks, one per workload, each against a computation made apart
from the program (DuckDB over the generated inputs) or a property the
method must have. `check` returns the list of problems found."""
import json

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"]
EVENT_FIELDS = {
    "page_view": {"user_id": "VARCHAR", "timestamp": "VARCHAR", "product_id": "VARCHAR"},
    "add_to_cart": {"user_id": "VARCHAR", "timestamp": "VARCHAR", "product_id": "VARCHAR",
                    "quantity": "INTEGER"},
    "purchase": {"user_id": "VARCHAR", "timestamp": "VARCHAR", "order_id": "VARCHAR",
                 "product_id": "VARCHAR", "quantity": "INTEGER", "price": "DOUBLE"},
    "review": {"user_id": "VARCHAR", "timestamp": "VARCHAR", "product_id": "VARCHAR",
               "rating": "INTEGER"},
}
KV_KEEP = 50


def connect(run):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        if (run / "in" / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{run}/in/{t}.parquet/*.parquet')")
    return con


def parquet(path, hive=False):
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = {str(hive).lower()})"
            if hive else f"read_parquet('{path}/*.parquet')")


def same_rows(con, label, got, exp, cols=None):
    """Multiset equality of two relations (SQL text), over `cols` or all
    columns; returns problems. Each side is evaluated once."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM {got}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS SELECT * FROM {exp}")
    g = con.sql("SELECT * FROM got LIMIT 0").columns
    e = con.sql("SELECT * FROM exp LIMIT 0").columns
    if cols is None:
        if sorted(g) != sorted(e):
            return [f"{label}: columns {sorted(g)} != {sorted(e)}"]
        cols = sorted(g)
    sel = ", ".join(f'"{c}"' for c in cols)
    n_got = con.sql("SELECT count(*) FROM got").fetchone()[0]
    n_exp = con.sql("SELECT count(*) FROM exp").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL "
                    f"SELECT {sel} FROM exp)").fetchone()[0]
    lost = con.sql(f"SELECT count(*) FROM (SELECT {sel} FROM exp EXCEPT ALL "
                   f"SELECT {sel} FROM got)").fetchone()[0]
    if n_got != n_exp or extra or lost:
        return [f"{label}: {n_got} rows vs {n_exp} expected, {extra} unexpected, {lost} missing"]
    if n_exp == 0:
        return [f"{label}: both sides are empty, so nothing was checked"]
    return []


def zero(con, label, sql):
    n = con.sql(sql).fetchone()[0]
    return [f"{label}: {n} offending rows"] if n else []


def check_etl(con, run, rd):
    bo = parquet(rd / "bronze" / "orders", hive=True)
    bl = parquet(rd / "bronze" / "lineitem", hive=True)
    cut = json.loads((run / "check" / "etl.json").read_text())["cut"]
    con.execute(f"CREATE VIEW arrived_orders AS SELECT * FROM orders "
                f"WHERE o_orderdate < TIMESTAMP '{cut}'")
    con.execute(f"CREATE VIEW arrived_lineitem AS SELECT * FROM lineitem "
                f"WHERE l_shipdate < TIMESTAMP '{cut}'")
    p = []
    # every source row dated before the last cut lands in bronze exactly once
    p += same_rows(con, "bronze orders", f"(SELECT * EXCLUDE (year, month, day) FROM {bo})",
                   "arrived_orders")
    p += same_rows(con, "bronze lineitem", f"(SELECT * EXCLUDE (year, month, day) FROM {bl})",
                   "arrived_lineitem")
    p += zero(con, "bronze orders partition",
              f"SELECT count(*) FROM {bo} WHERE year <> year(o_orderdate) "
              f"OR month <> month(o_orderdate) OR day <> day(o_orderdate)")
    p += zero(con, "bronze lineitem partition",
              f"SELECT count(*) FROM {bl} WHERE year <> year(l_shipdate) "
              f"OR month <> month(l_shipdate) OR day <> day(l_shipdate)")
    expected = """(
      SELECT year(o.o_orderdate) AS year, month(o.o_orderdate) AS month, l.l_partkey, p.p_brand,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))
                      * CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
             COUNT(*) AS num_purchases
      FROM arrived_orders o JOIN arrived_lineitem l ON l.l_orderkey = o.o_orderkey
      LEFT JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
      GROUP BY ALL)"""
    p += same_rows(con, "gold sales summary", parquet(run / "check" / "gold", hive=True), expected)
    return p


def resolve(con):
    """q262's one-shot algebra over the customers in table `c`: an edge
    joins two customers of one nation whose names are within edit
    distance one (DuckDB's levenshtein), and a cluster is a connected
    component (union-find here), labelled by its minimum custkey.
    Returns (custkey, canonical id, cluster size) rows."""
    keys = [k for (k,) in con.sql("SELECT c_custkey FROM c").fetchall()]
    edges = con.sql("SELECT a.c_custkey, b.c_custkey FROM c a JOIN c b "
                    "ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey "
                    "WHERE levenshtein(a.c_name, b.c_name) <= 1").fetchall()
    parent = {k: k for k in keys}

    def root(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k
    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:  # the smaller root wins, so a root is its cluster's minimum
            parent[max(ra, rb)] = min(ra, rb)
    label = {k: root(k) for k in keys}
    size = {}
    for r in label.values():
        size[r] = size.get(r, 0) + 1
    return [(k, r, size[r]) for k, r in label.items()]


def check_er(con, run, rd):
    chk = run / "check"
    con.execute(f"CREATE VIEW forgotten AS SELECT * FROM {parquet(chk / 'forgotten')}")
    # the customers that arrived and were not forgotten
    con.execute("CREATE TEMP TABLE c AS SELECT c_custkey, c_name, c_nationkey FROM customer "
                "WHERE c_custkey NOT IN (SELECT c_custkey FROM forgotten)")
    rows = ", ".join(f"({k}, {r}, {n})" for k, r, n in resolve(con))
    con.execute("CREATE TEMP TABLE er_expected AS SELECT * FROM (VALUES " + rows +
                ") AS t(c_custkey, canonical_id, cluster_size)")
    got = parquet(chk / "resolved")
    p = same_rows(con, "resolved", got, "er_expected")
    p += zero(con, "canonical id is the cluster minimum",
              f"SELECT count(*) FROM (SELECT canonical_id, min(c_custkey) AS m, count(*) AS n, "
              f"max(cluster_size) AS s FROM {got} GROUP BY 1) WHERE m <> canonical_id OR n <> s")
    n_multi = con.sql(f"SELECT count(*) FROM {got} WHERE cluster_size > 1").fetchone()[0]
    if n_multi == 0:
        p.append("resolved: no multi-member cluster, so matching was not exercised")
    return p


def check_analytics(con, run, rd):
    chk = run / "check"
    oracle = json.loads((chk / "oracle_sql.json").read_text())
    p = []
    for q, sql in sorted(oracle.items()):
        p += same_rows(con, q, parquet(chk / q), f"({sql})")
    return p


def check_stream(con, run, rd):
    p = []
    for t, fields in EVENT_FIELDS.items():
        cols = ", ".join(f"'{k}': '{v}'" for k, v in fields.items())
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM read_json("
                    f"'{run}/in/events/{t}/*.txt', format = 'newline_delimited', columns = {{{cols}}})")
        bronze = parquet(rd / "bronze" / f"brz_{t}_event", hive=True)
        p += same_rows(con, f"bronze {t}", bronze, f"src_{t}", cols=list(fields))
        p += zero(con, f"bronze {t} event_type",
                  f"SELECT count(*) FROM {bronze} WHERE event_type <> '{t}'")
    for t in ("page_view", "add_to_cart"):
        rr = (f"(SELECT key AS user_id, json_extract_string(value, '$.product_id') AS product_id, "
              f"json_extract_string(value, '$.event_type') AS event_type, "
              f"json_extract_string(value, '$.user_id') AS value_user "
              f"FROM {parquet(rd / 'rerank' / t)})")
        guarded = (f"(SELECT user_id, product_id, '{t}' AS event_type, user_id AS value_user "
                   f"FROM src_{t} WHERE user_id IS NOT NULL AND product_id IS NOT NULL)")
        p += same_rows(con, f"rerank {t}", rr, guarded)
    kv = {}
    for line in (run / "check" / "kv.jsonl").read_text().splitlines():
        if line:
            r = json.loads(line)
            kv[r["key"]] = r["items"]
    for t, kind in (("page_view", "views"), ("add_to_cart", "cart")):
        emitted = {}
        for u, prod in con.sql(f"SELECT user_id, product_id FROM src_{t} "
                               f"WHERE user_id IS NOT NULL AND product_id IS NOT NULL").fetchall():
            emitted.setdefault(u, []).append(prod)
        bad = 0
        for u, prods in emitted.items():
            items = kv.get(f"user:{u}:{kind}", [])
            if len(items) != min(KV_KEEP, len(prods)) or not set(items) <= set(prods):
                bad += 1
        stray = sum(1 for k in kv if k.endswith(f":{kind}")
                    and k.split(":")[1] not in emitted)
        if bad or stray or not emitted:
            p.append(f"kv {kind}: {bad} users with a wrong list, {stray} stray keys")
    return p


def check_ingest(con, run, rd):
    return check_etl(con, run, rd / "etl") + check_stream(con, run, rd / "stream")


CHECKS = {"ingest": check_ingest, "er_incremental": check_er, "analytics": check_analytics}


def check(workload, run, last_round):
    con = connect(run)
    try:
        return CHECKS[workload](con, run, run / f"round-{last_round}")
    except Exception as e:  # a check that cannot run is a failed check
        return [f"check raised {type(e).__name__}: {e}"]
    finally:
        con.close()
