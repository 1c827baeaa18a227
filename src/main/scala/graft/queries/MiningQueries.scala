package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.{FuzzyJoin, Hashes, Kmv}
import graft.operators.{Bfs, Skyline}
import graft.pipeline.TempDirs.spillParquet

/** Round-12 mining batch: fuzzy entity matching (SymSpell ED-1 join),
  * graph traversal (multi-source BFS), deterministic KMV sketch set
  * algebra, the 2-D skyline operator, and deterministic weighted
  * sampling. Everything here hash-gates — including the sketch query,
  * whose md5-derived bottom-k arithmetic is exactly replayable in the
  * DuckDB oracle (the first fully-oracled sketch in the suite; the
  * HLL/CMS/t-digest tier is rows-only by design because THEIR
  * estimators are float/engine-specific).
  */
object MiningQueries {

  /** q189 — fuzzy self-join on customer names at edit distance ≤ 1
    * (typo-tolerant entity resolution, the record-linkage primitive).
    * Candidates come from the SymSpell deletion-neighborhood equi-join
    * — lossless for ED ≤ 1 ([[graft.functions.FuzzyJoin]] proves it) —
    * so the oracle can be the O(n²) `levenshtein` pair join the prune
    * avoids: the candidate generation itself is under the hash gate,
    * exactly the q178 prefix-filter discipline. */
  val q189 = Q("q189_fuzzy_name_join",
    """WITH v AS (SELECT DISTINCT c_name AS w FROM customer)
      |SELECT a.w AS w_a, b.w AS w_b
      |FROM v a JOIN v b ON a.w < b.w
      |WHERE levenshtein(a.w, b.w) <= 1""".stripMargin) { (s, d) =>
    FuzzyJoin.ed1Pairs(Tables.customer(s, d), "c_name")
  }

  /** q190 — multi-source BFS over the co-purchase part graph: hop
    * distance (≤ 3) from the basket of the earliest order to every
    * reachable part — "how many recommendation steps away is the rest
    * of the catalog". Frontier-join rounds with staged lineage
    * ([[graft.operators.Bfs]]); the oracle replays it as a bounded
    * recursive CTE. The seed set is derived IN the plan (join against
    * the 1-row min-order aggregate — no driver round-trip). */
  val q190 = Q("q190_bfs_hops",
    """WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS (SELECT DISTINCT a.p AS x, b.p AS y
      |      FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p),
      |seed AS (SELECT DISTINCT p FROM op WHERE o = (SELECT MIN(o) FROM op)),
      |r AS (
      |  SELECT p, 0 AS hop FROM seed
      |  UNION
      |  SELECT e.y, r.hop + 1 FROM r JOIN e ON e.x = r.p WHERE r.hop < 3)
      |SELECT p AS part, CAST(MIN(hop) AS BIGINT) AS hop FROM r GROUP BY 1""".stripMargin) { (s, d) =>
    // co-purchase pairs via ONE shuffle (r17): collect_set per order
    // subsumes the (o,p)-distinct shuffle AND the o-keyed self-join —
    // pair generation is a map-side double explode over per-order part
    // baskets (bounded by basket size). Same edge set, same oracle.
    val baskets = spillParquet(
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("o"))
        .agg(collect_set(col("l_partkey")).as("ps")),
      "graft_bfs_op_")
    val edges = spillParquet(
      baskets.select(explode(col("ps")).as("x"), col("ps"))
        .select(col("x"), explode(col("ps")).as("y"))
        .filter(col("x") =!= col("y"))
        .distinct(),
      "graft_bfs_edges_")
    val minO = baskets.agg(min(col("o")).as("g_mo"))
    val seeds = baskets.join(broadcast(minO), col("o") === col("g_mo"))
      .select(explode(col("ps")).as("part"))
    Bfs.hopDistances(edges, "x", "y", seeds, "part", maxHops = 3)
  }

  /** q191 — KMV bottom-64 sketch set algebra over event-user sets:
    * distinct viewers, distinct purchasers, their union (sketch MERGE
    * — bottom-k of the sketch union, the mergeability that makes KMV a
    * partial aggregate), and the Beyer et al. intersection estimator
    * ρ·n̂_union with ρ = in-both fraction of the union sketch. All
    * integer arithmetic over the house md5-h40 hash: the sketch, the
    * k-th minimum, and both estimators replay bit-for-bit in the
    * oracle — approximate ANSWERS under an exact GATE. Exact
    * counterparts ride along in the same row, so the driver's compare
    * also pins the estimator against its target. (The theoretical
    * div-by-zero at h₍ₖ₎ = 0 needs 64 md5 outputs below 2²⁰/2⁶⁰ —
    * ~2⁻²⁰ each — and would fail loudly in both engines, not skew.) */
  val q191 = {
    val k = 64
    val h = Kmv.h40Sql("CAST(user_id AS VARCHAR)")
    val est = (c: String, m: String) => Kmv.estimateSql(c, m, k)
    Q("q191_kmv_set_algebra",
      s"""WITH vu AS (SELECT DISTINCT $h AS h FROM events WHERE event_type = 'view'),
         |pu AS (SELECT DISTINCT $h AS h FROM events WHERE event_type = 'purchase'),
         |mu AS (SELECT h, MAX(fv) AS in_v, MAX(fp) AS in_p FROM (
         |         SELECT h, 1 AS fv, 0 AS fp FROM vu
         |         UNION ALL SELECT h, 0 AS fv, 1 AS fp FROM pu) u GROUP BY h),
         |sv AS (SELECT h FROM vu ORDER BY h LIMIT $k),
         |sp AS (SELECT h FROM pu ORDER BY h LIMIT $k),
         |su AS (SELECT h, in_v, in_p FROM mu ORDER BY h LIMIT $k),
         |agg AS (SELECT
         |  (SELECT COUNT(*) FROM sv) AS v_cnt, (SELECT MAX(h) FROM sv) AS v_kth,
         |  (SELECT COUNT(*) FROM sp) AS p_cnt, (SELECT MAX(h) FROM sp) AS p_kth,
         |  (SELECT COUNT(*) FROM su) AS u_cnt, (SELECT MAX(h) FROM su) AS u_kth,
         |  (SELECT CAST(SUM(in_v * in_p) AS BIGINT) FROM su) AS inter_matches,
         |  (SELECT COUNT(*) FROM vu) AS exact_view,
         |  (SELECT COUNT(*) FROM pu) AS exact_purchase,
         |  (SELECT COUNT(*) FROM mu WHERE in_v = 1 AND in_p = 1) AS exact_intersection),
         |est AS (SELECT *,
         |  ${est("v_cnt", "v_kth")} AS est_view,
         |  ${est("p_cnt", "p_kth")} AS est_purchase,
         |  ${est("u_cnt", "u_kth")} AS est_union FROM agg)
         |SELECT est_view, est_purchase, est_union, inter_matches,
         |       (inter_matches * est_union) // $k AS est_intersection,
         |       exact_view, exact_purchase, exact_intersection
         |FROM est""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("event_type"), Kmv.h40(col("user_id").cast("string")).as("h"))
      val vu = spillParquet(
        ev.filter(col("event_type") === "view").select("h").distinct(), "graft_kmv_vu_")
      val pu = spillParquet(
        ev.filter(col("event_type") === "purchase").select("h").distinct(), "graft_kmv_pu_")
      val mu = vu.select(col("h"), lit(1).as("fv"), lit(0).as("fp"))
        .unionAll(pu.select(col("h"), lit(0).as("fv"), lit(1).as("fp")))
        .groupBy("h").agg(max("fv").as("in_v"), max("fp").as("in_p"))
      val sv = Kmv.summary(Kmv.sketch(vu, "h", k), "h")
        .select(col("g_cnt").as("v_cnt"), col("g_kth").as("v_kth"))
      val sp = Kmv.summary(Kmv.sketch(pu, "h", k), "h")
        .select(col("g_cnt").as("p_cnt"), col("g_kth").as("p_kth"))
      val su = mu.orderBy("h").limit(k)
        .agg(count("h").as("u_cnt"), max("h").as("u_kth"),
          sum(col("in_v") * col("in_p")).cast("long").as("inter_matches"))
      val exacts = vu.agg(count("h").as("exact_view")).crossJoin(
        pu.agg(count("h").as("exact_purchase"))).crossJoin(
        mu.filter(col("in_v") === 1 && col("in_p") === 1)
          .agg(count("h").as("exact_intersection")))
      sv.crossJoin(sp).crossJoin(su).crossJoin(exacts)
        .selectExpr(
          s"${Kmv.estimateExpr("v_cnt", "v_kth", k)} AS est_view",
          s"${Kmv.estimateExpr("p_cnt", "p_kth", k)} AS est_purchase",
          s"${Kmv.estimateExpr("u_cnt", "u_kth", k)} AS est_union",
          "inter_matches", "exact_view", "exact_purchase", "exact_intersection")
        .selectExpr("est_view", "est_purchase", "est_union", "inter_matches",
          s"(inter_matches * est_union) div $k AS est_intersection",
          "exact_view", "exact_purchase", "exact_intersection")
    }
  }

  /** q192 — 2-D skyline over per-part sales stats: the Pareto frontier
    * of (lineitem count ↑, minimum sell price ↓) — "no other part both
    * sells more often and has been seen cheaper". Sorted-prefix
    * skyline ([[graft.operators.Skyline]]): one aggregation shuffle +
    * a distinct-x-domain running min, vs the oracle's O(n²) NOT
    * EXISTS. Price comparisons stay in DECIMAL(18,2) (exact) and only
    * the output casts to double, the house money rule. */
  val q192 = Q("q192_skyline_parts",
    """WITH m AS (SELECT l_partkey AS part, COUNT(*) AS n_li,
      |                  MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS mp
      |           FROM lineitem GROUP BY 1)
      |SELECT p.part, p.n_li, CAST(p.mp AS DOUBLE) AS min_price
      |FROM m p WHERE NOT EXISTS (
      |  SELECT 1 FROM m q
      |  WHERE q.n_li >= p.n_li AND q.mp <= p.mp
      |    AND (q.n_li > p.n_li OR q.mp < p.mp))""".stripMargin) { (s, d) =>
    val m = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("part"))
      .agg(count(lit(1)).as("n_li"),
        min(col("l_extendedprice").cast(DecimalType(18, 2))).as("g_mp"))
    Skyline.frontier2d(m, "n_li", "g_mp")
      .select(col("part"), col("n_li"), col("g_mp").cast("double").as("min_price"))
  }

  /** q193 — deterministic weighted sampling without replacement: 10
    * docs per language, priority ∝ hash/weight with weight = n_chars
    * (longer docs more likely) — the exponential-race shape of
    * Efraimidis–Spirakis reservoir sampling with the transcendental
    * key (−ln u)/w replaced by the integer floor priority
    * (h₄₀·2²⁰) div w, which preserves the monotone
    * bigger-weight-smaller-key structure while staying exact int64 in
    * both engines (the race is approximate-proportional, the
    * COMPUTATION is deterministic and hash-gated; for exact
    * w-proportional draws you'd pay a float log — the q30/q82
    * rows-only tier's trade, deliberately not taken here). Per-group
    * top-k via one window shuffle on the group key. */
  val q193 = {
    val h = Kmv.h40Sql("CAST(doc_id AS VARCHAR)")
    Q("q193_weighted_sample",
      s"""WITH w AS (SELECT lang, doc_id,
         |                  (($h) * 1048576) // n_chars AS pri
         |           FROM documents WHERE n_chars > 0),
         |r AS (SELECT lang, doc_id, pri,
         |             row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rank
         |      FROM w)
         |SELECT lang, doc_id, pri, rank FROM r WHERE rank <= 10""".stripMargin) { (s, d) =>
      val w = Tables.documents(s, d)
        .filter(col("n_chars") > 0)
        .select(col("lang"), col("doc_id"),
          Kmv.h40(col("doc_id").cast("string")).as("g_h40"), col("n_chars"))
        .selectExpr("lang", "doc_id", "(g_h40 * 1048576L) div n_chars AS pri")
      val win = Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))
      w.withColumn("rank", row_number().over(win)).filter(col("rank") <= 10)
    }
  }

  /** q194 — A/B experiment read-out with a two-proportion z-test: users
    * split by the deterministic keyed assignment `user_id % 2` (the
    * q57 keyed-hash-split discipline — assignment must be a pure
    * function of the unit, never of arrival order), conversion =
    * "above-median purchaser" (≥ 14 — "ever purchased" is degenerate
    * on this fixture: EVERY user converts, pool = 1, and the variance
    * term is 0/0), and the pooled z statistic. Degenerate cells
    * (empty arm, pool ∈ {0, 1}) yield NULL under an explicit CASE in
    * BOTH engines rather than an ANSI divide-by-zero. The z-score is a
    * DOUBLE that still hash-gates: every operand is an exact int64
    * count, and the expression tree (÷, ×, −, √ — each IEEE
    * correctly-rounded) is written IDENTICALLY in both engines, so the
    * result is bit-identical — the q184-cosine rule applied to
    * inferential statistics. One groupBy(user) + one global aggregate;
    * at 100 TB the experiment read-out is a single shuffle. */
  val q194 = Q("q194_ab_test",
    """WITH u AS (SELECT user_id,
      |                  CASE WHEN COUNT(*) FILTER (event_type = 'purchase') >= 14
      |                       THEN 1 ELSE 0 END AS conv
      |           FROM events GROUP BY 1),
      |v AS (SELECT user_id % 2 AS variant, conv FROM u),
      |a AS (SELECT
      |  COUNT(*) FILTER (variant = 0) AS n_control,
      |  COUNT(*) FILTER (variant = 0 AND conv = 1) AS conv_control,
      |  COUNT(*) FILTER (variant = 1) AS n_treat,
      |  COUNT(*) FILTER (variant = 1 AND conv = 1) AS conv_treat
      |  FROM v),
      |p AS (SELECT *,
      |  CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE) AS p_control,
      |  CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE) AS p_treat,
      |  CAST(conv_control + conv_treat AS DOUBLE) / CAST(n_control + n_treat AS DOUBLE) AS pool
      |  FROM a)
      |SELECT n_control, conv_control, n_treat, conv_treat, p_control, p_treat,
      |       CASE WHEN n_control = 0 OR n_treat = 0 OR pool = 0.0 OR pool = 1.0
      |            THEN NULL
      |            ELSE (p_treat - p_control) /
      |                 sqrt(pool * (1.0 - pool) *
      |                      (1.0 / CAST(n_control AS DOUBLE) + 1.0 / CAST(n_treat AS DOUBLE)))
      |       END AS z_score
      |FROM p""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d).groupBy("user_id")
      .agg(count(when(col("event_type") === "purchase", 1)).as("g_np"))
      .withColumn("conv", when(col("g_np") >= 14, 1).otherwise(0))
      .withColumn("variant", col("user_id") % 2)
    u.agg(
      count(when(col("variant") === 0, 1)).as("n_control"),
      count(when(col("variant") === 0 && col("conv") === 1, 1)).as("conv_control"),
      count(when(col("variant") === 1, 1)).as("n_treat"),
      count(when(col("variant") === 1 && col("conv") === 1, 1)).as("conv_treat"))
      .selectExpr("*",
        "CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE) AS p_control",
        "CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE) AS p_treat",
        "CAST(conv_control + conv_treat AS DOUBLE) / CAST(n_control + n_treat AS DOUBLE) AS pool")
      .selectExpr("n_control", "conv_control", "n_treat", "conv_treat",
        "p_control", "p_treat",
        """CASE WHEN n_control = 0 OR n_treat = 0 OR pool = 0.0 OR pool = 1.0
          |     THEN NULL
          |     ELSE (p_treat - p_control) /
          |          sqrt(pool * (1.0 - pool) *
          |               (1.0 / CAST(n_control AS DOUBLE) + 1.0 / CAST(n_treat AS DOUBLE)))
          |END AS z_score""".stripMargin)
  }

  /** q195 — cross-table referential-integrity audit (the Deequ-style
    * governance table a lakehouse runs before promoting bronze→silver;
    * complements q93's single-table constraint gate): orphan foreign
    * keys across all four fact→dim edges, duplicate primary keys, and
    * domain checks, as ONE (check_name, n_bad) relation. Shape: each
    * FK check is an anti-join that Spark plans as broadcast when the
    * dim fits (customer/part) and shuffle otherwise (orders at
    * 100 TB); the PK checks are map-side-combined groupBys. Nonzero
    * rows are findings, not failures — the audit REPORTS; q93 gates. */
  val q195 = Q("q195_integrity_audit",
    """SELECT 'lineitem_orphan_order' AS check_name,
      |       (SELECT COUNT(*) FROM lineitem l
      |        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_bad
      |UNION ALL SELECT 'lineitem_orphan_part',
      |       (SELECT COUNT(*) FROM lineitem l
      |        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |UNION ALL SELECT 'orders_orphan_customer',
      |       (SELECT COUNT(*) FROM orders o
      |        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |UNION ALL SELECT 'events_orphan_user',
      |       (SELECT COUNT(*) FROM (SELECT DISTINCT user_id FROM events) e
      |        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
      |UNION ALL SELECT 'orders_dup_pk',
      |       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1) x)
      |UNION ALL SELECT 'customer_dup_pk',
      |       (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer GROUP BY 1 HAVING COUNT(*) > 1) x)
      |UNION ALL SELECT 'customer_null_name',
      |       (SELECT COUNT(*) FROM customer WHERE c_name IS NULL)
      |UNION ALL SELECT 'orders_negative_total',
      |       (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0)""".stripMargin) { (s, d) =>
    def audit(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_bad")).select(lit(name).as("check_name"), col("n_bad"))
    val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    val c = Tables.customer(s, d); val p = Tables.part(s, d)
    val ev = Tables.events(s, d)
    audit("lineitem_orphan_order",
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"))
      .unionAll(audit("lineitem_orphan_part",
        li.join(p, li("l_partkey") === p("p_partkey"), "left_anti")))
      .unionAll(audit("orders_orphan_customer",
        o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")))
      .unionAll(audit("events_orphan_user",
        ev.select("user_id").distinct()
          .join(c, col("user_id") === c("c_custkey"), "left_anti")))
      .unionAll(audit("orders_dup_pk",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("g_n")).filter(col("g_n") > 1)))
      .unionAll(audit("customer_dup_pk",
        c.groupBy("c_custkey").agg(count(lit(1)).as("g_n")).filter(col("g_n") > 1)))
      .unionAll(audit("customer_null_name", c.filter(col("c_name").isNull)))
      .unionAll(audit("orders_negative_total", o.filter(col("o_totalprice") < 0)))
  }

  /** q196 — k-anonymity audit over quasi-identifiers (Sweeney 2002):
    * customers grouped by (nation, segment, account-balance band);
    * every group reported with its size and an at-risk flag for
    * k < 5 — the privacy-side complement of the q164
    * right-to-be-forgotten tier (forgetting handles known ids;
    * k-anonymity measures whether the REMAINING attributes re-identify
    * anyone). The band uses floor(x/1000) — toward −∞ in both engines,
    * so negative balances band identically. One map-side-combined
    * groupBy; at 100 TB the report is quasi-identifier-domain-sized,
    * not data-sized. */
  val q196 = Q("q196_k_anonymity",
    """SELECT c_nationkey, c_mktsegment,
      |       CAST(floor(c_acctbal / 1000) AS BIGINT) AS acct_band,
      |       COUNT(*) AS group_n,
      |       CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS at_risk
      |FROM customer GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).as("acct_band"))
      .agg(count(lit(1)).as("group_n"))
      .withColumn("at_risk", when(col("group_n") < 5, 1).otherwise(0))
  }

  /** q197 — CUSUM change-point detection over daily revenue (Page
    * 1954): one-sided upper CUSUM s_t = max(0, s_{t−1} + x_t − μ − κ)
    * in exact integer CENTS, with target μ = the global mean daily
    * cents and slack κ = μ/20, alarming when s_t exceeds μ. The
    * recursion is inherently sequential — but over the AGGREGATED day
    * domain (~2.4k rows at ANY corpus scale), so after one
    * map-side-combined groupBy the fold is driver-side on a bounded
    * relation — the Pca/driver-tiny-moments discipline, while the
    * oracle replays the same integer recursion as a recursive CTE.
    * Complements q133 (memoryless per-point z-flags) with the
    * sequential small-persistent-shift detector. */
  val q197 = Q("q197_cusum_revenue",
    """WITH RECURSIVE d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |i AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM d),
      |st AS (SELECT COUNT(*) AS nd, CAST(SUM(cents) AS BIGINT) AS tot FROM d),
      |p AS (SELECT tot // nd AS mu, (tot // nd) // 20 AS slack FROM st),
      |c AS (
      |  SELECT i.rn, i.day, i.cents,
      |         GREATEST(0, i.cents - p.mu - p.slack) AS s
      |  FROM i, p WHERE i.rn = 1
      |  UNION ALL
      |  SELECT i.rn, i.day, i.cents,
      |         GREATEST(0, c.s + i.cents - p.mu - p.slack)
      |  FROM c, i, p WHERE i.rn = c.rn + 1)
      |SELECT c.day, c.cents, c.s AS cusum,
      |       CASE WHEN c.s > p.mu THEN 1 ELSE 0 END AS alarm
      |FROM c, p""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")).as("cents"))
      .orderBy("day")
    // collect() allowlist: the collected relation is the DAILY
    // aggregate, whose cardinality is |distinct o_orderdate| —
    // calendar-bounded (≤ 365·years) at ANY corpus scale, never
    // |orders| — and the max(0, ·) CUSUM recurrence is
    // NON-ASSOCIATIVE (the clamp discards information), so no
    // partial-aggregation / PrefixScan decomposition exists; a
    // driver-side fold over the bounded domain is the correct plan
    // (the PrefixScan-allowlist standard). Division sign convention:
    // DuckDB's integer `//` TRUNCATES toward zero (measured:
    // -7 // 5 = -1, not -2), exactly Scala Long `/` — so plain `/`
    // here, NOT Math.floorDiv, keeps a negative-revenue day (q195's
    // orders_negative_total shape) bit-identical across engines.
    val rows = daily.collect().map(r => (r.getDate(0), r.getLong(1)))
    val nd = rows.length.toLong
    val tot = rows.map(_._2).sum
    val mu = tot / nd
    val slack = mu / 20L
    var run = 0L
    val out = rows.map { case (day, cents) =>
      run = math.max(0L, run + cents - mu - slack)
      (day, cents, run, if (run > mu) 1 else 0)
    }
    import s.implicits._
    out.toSeq.toDF("day", "cents", "cusum", "alarm")
  }

  /** q198 — TextRank keyword extraction (Mihalcea & Tarau 2004):
    * integer PageRank ([[graft.operators.PageRank]] — the q104
    * fixed-point algebra, bit-replayable) over the q179 co-occurrence
    * graph (±3 window, support ≥ 5), top-20 tokens by rank. Pure
    * composition of two already-gated operators into the classic
    * unsupervised keyword scorer — the oracle unrolls the five
    * iterations over the SAME edge CTEs. The final top-20 window runs
    * on the vocabulary-sized rank relation (tiny by then). */
  val q198: Q = {
    val edgeCtes =
      """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        |pr AS (
        |  SELECT unnest(flatten(list_transform(range(1, 4), o ->
        |           list_transform(range(1, greatest(len(t) - o + 1, 1)),
        |                          i -> {'a': t[i], 'b': t[i + o]})))) AS p
        |  FROM toks),
        |cnt AS (SELECT least(p.a, p.b) AS tok_a, greatest(p.a, p.b) AS tok_b
        |        FROM pr GROUP BY 1, 2 HAVING count(*) >= 5),
        |edges AS (SELECT tok_a AS v, tok_b AS dst FROM cnt
        |          UNION ALL SELECT tok_b, tok_a FROM cnt),
        |deg AS (SELECT v, COUNT(*) AS deg FROM edges GROUP BY 1),
        |nodes AS (SELECT DISTINCT unnest(t) AS tok FROM toks),
        |stats AS (SELECT COUNT(*) AS n FROM nodes),
        |r0 AS (SELECT tok AS v, 1000000000000 // n AS rank
        |       FROM nodes CROSS JOIN stats)""".stripMargin
    val iterCte = (k: Int) =>
      s"""r$k AS (
         |  SELECT d.tok AS v,
         |         (1000000000000 * 15) // (100 * n)
         |           + (85 * COALESCE(s.sum_in, 0)) // 100 AS rank
         |  FROM nodes d CROSS JOIN stats
         |  LEFT JOIN (SELECT e.dst AS v2, CAST(SUM(r.rank // dg.deg) AS BIGINT) AS sum_in
         |             FROM r${k - 1} r JOIN deg dg ON dg.v = r.v JOIN edges e ON e.v = r.v
         |             GROUP BY 1) s ON s.v2 = d.tok)""".stripMargin
    Q("q198_textrank_keywords",
      (edgeCtes +: (1 to 5).map(iterCte)).mkString(",\n") +
        """
          |SELECT tok, rank, pos FROM (
          |  SELECT v AS tok, rank,
          |         row_number() OVER (ORDER BY rank DESC, v) AS pos
          |  FROM r5) WHERE pos <= 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pr = docs.select(explode(graft.functions.Text.cooccurrencePairs(col("text"), 3)).as("p"))
        .select(least(col("p.a"), col("p.b")).as("a"),
          greatest(col("p.a"), col("p.b")).as("b"))
      val edges = pr.groupBy("a", "b").agg(count(lit(1)).as("g_ct"))
        .filter(col("g_ct") >= 5).select("a", "b")
      val nodes = docs.select(explode(graft.functions.Text.tokens(col("text"))).as("tok")).distinct()
      val ranks = graft.operators.PageRank.fixedPointRanks(edges, nodes, "tok", iterations = 5)
      val w = Window.orderBy(col("rank").desc, col("tok"))
      ranks.withColumn("pos", row_number().over(w)).filter(col("pos") <= 20)
    }
  }

  /** q199 — last-touch ATTRIBUTION: every purchase credits the user's
    * most recent non-purchase event at-or-before it (the classic
    * marketing-attribution rule), revenue and counts rolled up per
    * crediting channel. The point-in-time lookup is the NATIVE as-of
    * operator ([[graft.plans.AsOfJoinNative]] — one streaming merge
    * pass per user partition, O(1) state); touches are first deduped
    * to one per (user, ts) by arg-max event id, because as-of is
    * ambiguous under timestamp ties (the q48 discipline). Purchases
    * with no prior touch land in 'none' rather than dropping (left
    * semantics — attribution must account for every sale). Revenue
    * through the decimal-sum rule. */
  val q199 = Q("q199_last_touch_attribution",
    """WITH t AS (
      |  SELECT user_id, epoch_ns(ts) AS tn, arg_max(event_type, event_id) AS channel
      |  FROM events WHERE event_type <> 'purchase' GROUP BY 1, 2),
      |p AS (SELECT event_id, user_id, epoch_ns(ts) AS tn, value
      |      FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT p.value, t.channel
      |      FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.tn >= t.tn)
      |SELECT COALESCE(channel, 'none') AS channel, COUNT(*) AS n_purchases,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("event_type"))).as("g_m"))
      .select(col("user_id"), col("ts"), col("g_m.event_type").as("channel"))
    graft.plans.AsOfJoinNative(purchases, "ts", touches, "ts", "user_id", Seq("channel"))
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        graft.Cols.dsum(col("value")).as("total_value"))
  }

  /** q200 — autocorrelation function of daily revenue at lags 1–7 (the
    * weekly-seasonality detector): r_k = Σ dᵗ·dᵗ⁺ᵏ / Σ dᵗ², deviations
    * taken around the INTEGER mean (tot div n — a deliberate exact
    * centering; the <1-cent bias is irrelevant to the statistic and
    * buys bit-replayability). Deviation products go through
    * DECIMAL(38)/HUGEINT sums — daily deviations can reach ~10⁹ cents
    * at scale, so int64 would overflow around 2⁴ days of product mass —
    * and the final ratio is ONE double division of two exactly-rounded
    * casts, so the float output hash-gates (the q184-cosine rule).
    * After the one groupBy, everything runs on the ~2.4k-row day
    * domain (the q197 bounded-domain argument); the lag join is a
    * 7-way self-equi-join on the day index of that tiny relation. */
  val q200 = Q("q200_revenue_acf",
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |i AS (SELECT cents, row_number() OVER (ORDER BY day) AS rn FROM d),
      |st AS (SELECT COUNT(*) AS nd, CAST(SUM(cents) AS BIGINT) AS tot FROM d),
      |v AS (SELECT rn, cents - (SELECT tot // nd FROM st) AS dev FROM i),
      |den AS (SELECT SUM(CAST(dev AS HUGEINT) * dev) AS dn FROM v),
      |k AS (SELECT unnest(range(1, 8)) AS lag),
      |n AS (SELECT k.lag, SUM(CAST(a.dev AS HUGEINT) * b.dev) AS num
      |      FROM k CROSS JOIN v a JOIN v b ON b.rn = a.rn + k.lag
      |      GROUP BY 1)
      |SELECT n.lag, CAST(n.num AS DOUBLE) / CAST(den.dn AS DOUBLE) AS acf
      |FROM n, den""".stripMargin) { (s, d) =>
    import s.implicits._
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")).as("cents"))
    // day-domain window: bounded by |distinct days| at any corpus scale
    val idx = daily.withColumn("rn", row_number().over(Window.orderBy("day")))
    val st = idx.agg(count(lit(1)).as("g_nd"), sum("cents").as("g_tot"))
    val dev = idx.crossJoin(broadcast(st))
      .selectExpr("rn", "CAST(cents - (g_tot div g_nd) AS DECIMAL(38,0)) AS dev")
    val den = dev.agg(sum(col("dev") * col("dev")).as("g_dn"))
    val lags = (1L to 7L).toDF("lag")
    val num = lags.crossJoin(dev.select(col("rn").as("g_ra"), col("dev").as("g_da")))
      .join(dev.select(col("rn").as("g_rb"), col("dev").as("g_db")),
        col("g_rb") === col("g_ra") + col("lag"))
      .groupBy("lag").agg(sum(col("g_da") * col("g_db")).as("g_num"))
    num.crossJoin(broadcast(den))
      .selectExpr("lag",
        "CAST(g_num AS DOUBLE) / CAST(g_dn AS DOUBLE) AS acf")
  }

  /** q201 — top session PATHS: the first three event types of every
    * 30-minute session ([[graft.operators.Sessionize]] — the q182
    * sessionizer verbatim) concatenated into a path string, counted
    * corpus-wide — the "how do visits start" table behind every UX
    * funnel review. The path is built from three CONDITIONAL aggregates
    * (rank-pivoted), not collect_list — list aggregation order is not
    * deterministic under parallel merge, conditional max is. Shape:
    * sessionizer window + one groupBy(session) + one groupBy(path),
    * all on the user/session key — two shuffles total. */
  val q201 = Q("q201_session_paths",
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events),
      |s AS (
      |  SELECT user_id, event_id, event_type, t,
      |         CASE WHEN t - lag(t) OVER w > 1800000000000
      |              THEN 1 ELSE 0 END AS n
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |sess AS (
      |  SELECT user_id, event_id, event_type,
      |         SUM(n) OVER (PARTITION BY user_id ORDER BY event_id) AS sid
      |  FROM s),
      |f AS (SELECT user_id, sid, event_type,
      |             row_number() OVER (PARTITION BY user_id, sid
      |                                ORDER BY event_id) AS rn
      |      FROM sess),
      |p AS (SELECT user_id, sid,
      |             concat_ws('>', MAX(CASE WHEN rn = 1 THEN event_type END),
      |                            MAX(CASE WHEN rn = 2 THEN event_type END),
      |                            MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
      |      FROM f WHERE rn <= 3 GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1""".stripMargin) { (s, d) =>
    val sess = graft.operators.Sessionize.assignSessions(
      Tables.events(s, d).select("user_id", "event_id", "ts", "event_type"),
      "user_id", "event_id", "ts", gap = 1800000000000L)
    val w = Window.partitionBy("user_id", "session_id").orderBy("event_id")
    sess.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy("user_id", "session_id")
      .agg(max(when(col("rn") === 1, col("event_type"))).as("g_e1"),
        max(when(col("rn") === 2, col("event_type"))).as("g_e2"),
        max(when(col("rn") === 3, col("event_type"))).as("g_e3"))
      .select(concat_ws(">", col("g_e1"), col("g_e2"), col("g_e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
  }

  /** q202 — Benford's-law audit of order totals (the forensic
    * first-digit screen auditors run on financial fact tables):
    * observed leading-digit shares of o_totalprice against the Benford
    * expectation log₁₀(1+1/d). The expected shares are FIXED REFERENCE
    * CONSTANTS — computed once here and interpolated as the same
    * round-trip literal into both engines, so the gate never computes
    * a transcendental (the no-log-in-oracled-output rule); the
    * observed share is one exact-operand IEEE division. Map-only scan
    * + a 9-row aggregate; the digit comes from the exact integer
    * cents, not float formatting. */
  val q202: Q = {
    val expected = (1 to 9).map(dg => dg.toLong -> math.log10(1.0 + 1.0 / dg))
    // string→DOUBLE cast, not a bare numeric literal: DuckDB parses a
    // bare decimal literal as DECIMAL first and the DECIMAL→DOUBLE hop
    // can lose the last ulp vs the JVM double — strtod on the
    // round-trip string is correctly rounded in both worlds
    val valuesSql = expected
      .map { case (dg, p) => s"($dg, CAST('$p' AS DOUBLE))" }.mkString(", ")
    Q("q202_benford_audit",
      s"""WITH c AS (
         |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
         |  FROM orders),
         |t AS (SELECT COUNT(*) AS n FROM c),
         |o AS (SELECT digit, COUNT(*) AS n_obs FROM c GROUP BY 1),
         |e AS (SELECT * FROM (VALUES $valuesSql) AS v(digit, expected_share))
         |SELECT o.digit, o.n_obs,
         |       CAST(o.n_obs AS DOUBLE) / CAST(t.n AS DOUBLE) AS share,
         |       e.expected_share
         |FROM o JOIN e ON e.digit = o.digit, t""".stripMargin) { (s, d) =>
      import s.implicits._
      val digits = Tables.orders(s, d).select(
        substring((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
      val obs = digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(count(lit(1)).as("g_n"))
      obs.crossJoin(broadcast(tot))
        .join(broadcast(expected.toDF("digit", "expected_share")), Seq("digit"))
        .selectExpr("digit", "n_obs",
          "CAST(n_obs AS DOUBLE) / CAST(g_n AS DOUBLE) AS share",
          "expected_share")
    }
  }

  /** q203 — interval OVERLAP join: user sessions (the q182/q201
    * sessionizer's [min ts, max ts] envelopes) against global outage
    * windows (±15 min around a deterministic sample of error events),
    * with the exact overlap duration — "which sessions were exposed to
    * which incident". Runs through [[graft.operators.IntervalJoin]]:
    * 30-minute chunk decomposition + first-shared-chunk arithmetic
    * dedup + exact verify, vs the oracle's quadratic θ-join. The
    * outage sample (error ∧ event_id ≡ 0 mod 50) is a pure function of
    * the row, so both engines pick the identical set. */
  val q203 = Q("q203_session_outage_overlap",
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events),
      |s AS (
      |  SELECT user_id, event_id, event_type, t,
      |         CASE WHEN t - lag(t) OVER w > 1800000000000
      |              THEN 1 ELSE 0 END AS n
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |sess AS (
      |  SELECT user_id, event_id, t,
      |         SUM(n) OVER (PARTITION BY user_id ORDER BY event_id) AS sid
      |  FROM s),
      |iv AS (SELECT user_id, sid, MIN(t) AS s_start, MAX(t) AS s_end,
      |              MIN(event_id) AS s_first
      |       FROM sess GROUP BY 1, 2),
      |o AS (SELECT event_id AS outage_id,
      |             t - 900000000000 AS o_start, t + 900000000000 AS o_end
      |      FROM e WHERE event_type = 'error' AND event_id % 50 = 0)
      |SELECT iv.user_id, iv.s_first AS session_first_event, o.outage_id,
      |       least(iv.s_end, o.o_end) - greatest(iv.s_start, o.o_start) AS overlap_ns
      |FROM iv JOIN o ON iv.s_start <= o.o_end AND iv.s_end >= o.o_start""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val iv = graft.operators.Sessionize.assignSessions(
      ev.select("user_id", "event_id", "ts", "event_type"),
      "user_id", "event_id", "ts", gap = 1800000000000L)
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s_start"), max("ts").as("s_end"),
        min("event_id").as("s_first"))
    val outages = ev.filter(col("event_type") === "error" && col("event_id") % 50 === 0)
      .select(col("event_id").as("outage_id"),
        (col("ts") - 900000000000L).as("o_start"),
        (col("ts") + 900000000000L).as("o_end"))
    graft.operators.IntervalJoin
      .overlapJoin(iv, "s_start", "s_end", outages, "o_start", "o_end",
        chunk = 1800000000000L)
      .select(col("user_id"), col("s_first").as("session_first_event"),
        col("outage_id"),
        (least(col("s_end"), col("o_end")) -
          greatest(col("s_start"), col("o_start"))).as("overlap_ns"))
  }

  /** q204 — order-independent TABLE FINGERPRINTS (the anti-entropy
    * check a replicated lakehouse runs to prove two copies hold the
    * same rows without moving either): per row, the house md5-h60 over
    * a canonical string encoding (doubles via DECIMAL(18,2), dates via
    * DATE — both render identically in the two engines; raw
    * float-to-string formatting would not), summed mod 2⁶⁰. Addition
    * is commutative, so the fingerprint is partition-order- and
    * layout-independent — two replicas match iff their multisets of
    * encoded rows match (mod the 2⁻⁶⁰ collision). One map-only scan +
    * one scalar aggregate per table; the sum rides DECIMAL(38)/HUGEINT
    * so a trillion-row table cannot overflow it. */
  val q204 = Q("q204_table_fingerprints", {
    val c = Hashes.h60Sql(
      "concat_ws('|', c_custkey, c_name, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)), c_mktsegment)")
    val o = Hashes.h60Sql(
      "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)), CAST(o_orderdate AS DATE), o_orderpriority)")
    val n = Hashes.h60Sql("concat_ws('|', n_nationkey, n_name, n_regionkey)")
    s"""SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
       |       CAST(SUM($c) % 1152921504606846976 AS BIGINT) AS fingerprint
       |FROM customer
       |UNION ALL SELECT 'orders', COUNT(*),
       |       CAST(SUM($o) % 1152921504606846976 AS BIGINT) FROM orders
       |UNION ALL SELECT 'nation', COUNT(*),
       |       CAST(SUM($n) % 1152921504606846976 AS BIGINT) FROM nation""".stripMargin
  }) { (s, d) =>
    def fp(df: org.apache.spark.sql.DataFrame, name: String, enc: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_rows"),
        sum(Hashes.h60(enc).cast(DecimalType(38, 0))).as("g_sum"))
        .selectExpr(s"'$name' AS table_name", "n_rows",
          "CAST(g_sum % 1152921504606846976 AS BIGINT) AS fingerprint")
    fp(Tables.customer(s, d), "customer",
      concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal").cast(DecimalType(18, 2)), col("c_mktsegment")))
      .unionAll(fp(Tables.orders(s, d), "orders",
        concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast(DecimalType(18, 2)),
          col("o_orderdate").cast("date"), col("o_orderpriority"))))
      .unionAll(fp(Tables.nation(s, d), "nation",
        concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey"))))
  }

  /** q205 — calendar DIMENSION generation (the conformed date dim every
    * BI layer joins): one row per day spanning the fact table's date
    * range, with the ISO attribute battery. Derived IN the plan — the
    * 1-row min/max aggregate feeds a distributed sequence-explode, no
    * driver round-trip, and the dim regenerates deterministically from
    * the facts it serves. Day-of-week goes through ISO numbering
    * (Mon=1) — Spark's `dayofweek` and DuckDB's `dayofweek` disagree
    * on the week start, `weekday+1` vs `isodow` agree. */
  val q205 = Q("q205_date_dim",
    """WITH b AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS mn,
      |                  MAX(CAST(o_orderdate AS DATE)) AS mx FROM orders),
      |d AS (SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
      |                                         CAST(mx AS TIMESTAMP),
      |                                         INTERVAL 1 DAY)) AS DATE) AS day
      |      FROM b)
      |SELECT day, year(day) AS year, quarter(day) AS quarter,
      |       month(day) AS month, dayofmonth(day) AS dom,
      |       isodow(day) AS isodow, weekofyear(day) AS iso_week,
      |       CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS is_weekend
      |FROM d""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .agg(min(to_date(col("o_orderdate"))).as("g_mn"),
        max(to_date(col("o_orderdate"))).as("g_mx"))
      .select(explode(sequence(col("g_mn"), col("g_mx"))).as("day"))
      .select(col("day"), year(col("day")).as("year"),
        quarter(col("day")).as("quarter"), month(col("day")).as("month"),
        dayofmonth(col("day")).as("dom"),
        (weekday(col("day")) + 1).as("isodow"),
        weekofyear(col("day")).as("iso_week"),
        when(weekday(col("day")) >= 5, 1).otherwise(0).as("is_weekend"))
  }

  /** q206 — bounded-hop WEIGHTED shortest paths over the co-purchase
    * graph ([[graft.operators.Sssp]] — Bellman–Ford rounds as
    * min-aggregate joins): edge cost 10⁶ div support (strong
    * co-purchase = cheap hop), seeds = the earliest order's basket
    * (q190's seed rule), 4 relaxation rounds. Where q190 counts hops,
    * this weighs them — the "recommendation distance" that prefers one
    * strong association over two weak ones. Integer costs end to end;
    * the oracle unrolls the same 4 rounds. Edges and per-round
    * distances are staged (the iterative-tier lineage discipline). */
  val q206 = Q("q206_weighted_sssp",
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT a.p AS x, b.p AS y, COUNT(*) AS c
      |       FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT x, y, 1000000 // c AS w FROM e0
      |      UNION ALL SELECT y, x, 1000000 // c FROM e0),
      |seed AS (SELECT DISTINCT p FROM op WHERE o = (SELECT MIN(o) FROM op)),
      |d0 AS (SELECT p AS v, 0 AS dist FROM seed),
      |d1 AS (SELECT v, MIN(dist) AS dist FROM (
      |         SELECT v, dist FROM d0
      |         UNION ALL SELECT e.y, d.dist + e.w FROM d0 d JOIN e ON e.x = d.v) u GROUP BY 1),
      |d2 AS (SELECT v, MIN(dist) AS dist FROM (
      |         SELECT v, dist FROM d1
      |         UNION ALL SELECT e.y, d.dist + e.w FROM d1 d JOIN e ON e.x = d.v) u GROUP BY 1),
      |d3 AS (SELECT v, MIN(dist) AS dist FROM (
      |         SELECT v, dist FROM d2
      |         UNION ALL SELECT e.y, d.dist + e.w FROM d2 d JOIN e ON e.x = d.v) u GROUP BY 1),
      |d4 AS (SELECT v, MIN(dist) AS dist FROM (
      |         SELECT v, dist FROM d3
      |         UNION ALL SELECT e.y, d.dist + e.w FROM d3 d JOIN e ON e.x = d.v) u GROUP BY 1)
      |SELECT v AS part, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin) { (s, d) =>
    // co-purchase pairs via ONE shuffle (r17, the q190 basket build):
    // the support count groups the same per-order pair rows the
    // self-join produced, map-side-generated instead
    val baskets = spillParquet(
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("o"))
        .agg(collect_set(col("l_partkey")).as("ps")),
      "graft_sssp_op_")
    // e0 is staged (the symmetrizing union references it twice; the
    // relaxation loop re-reads edges per round) — the union itself
    // stays lazy over the tiny staged pair file
    val e0 = spillParquet(
      baskets.select(explode(col("ps")).as("x"), col("ps"))
        .select(col("x"), explode(col("ps")).as("y"))
        .filter(col("x") < col("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("g_c"))
        .filter(col("g_c") >= 2)
        .selectExpr("x", "y", "1000000L div g_c AS w"),
      "graft_sssp_edges_")
    val edges = e0.unionAll(e0.select(col("y").as("x"), col("x").as("y"), col("w")))
    val minO = baskets.agg(min(col("o")).as("g_mo"))
    val seeds = baskets.join(broadcast(minO), col("o") === col("g_mo"))
      .select(explode(col("ps")).as("part"))
    graft.operators.Sssp.boundedDistances(edges, "x", "y", "w", seeds, "part",
      rounds = 4)
  }

  /** q207 — Markov NEXT-EVENT model evaluation inside the engine:
    * train the q182 session-transition model on ~80 % of transitions
    * (those whose source event_id ≢ 0 mod 5 — a pure-function split,
    * the q57 rule), predict argmax(count, tie → lexicographic) per
    * source type, score top-1 accuracy on the held-out 20 %. Unseen
    * sources predict NULL and score as wrong (a model that never saw
    * 'signup' doesn't get credit for it). Counts are exact ints; the
    * accuracy is one exact-operand IEEE division per source type.
    * The classic train/eval loop — usually a pandas detour — expressed
    * as two aggregates and a broadcast join. */
  val q207 = Q("q207_markov_eval",
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events),
      |s AS (
      |  SELECT user_id, event_id, event_type, t,
      |         CASE WHEN t - lag(t) OVER w > 1800000000000
      |              THEN 1 ELSE 0 END AS n
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |sess AS (
      |  SELECT user_id, event_id, event_type,
      |         SUM(n) OVER (PARTITION BY user_id ORDER BY event_id) AS sid
      |  FROM s),
      |tr AS (
      |  SELECT event_id, event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id, sid
      |                                ORDER BY event_id) AS to_type
      |  FROM sess),
      |tt AS (SELECT event_id, from_type, to_type FROM tr WHERE to_type IS NOT NULL),
      |train AS (SELECT from_type, to_type, COUNT(*) AS c
      |          FROM tt WHERE event_id % 5 <> 0 GROUP BY 1, 2),
      |model AS (SELECT from_type, to_type AS predicted FROM (
      |            SELECT from_type, to_type,
      |                   row_number() OVER (PARTITION BY from_type
      |                                      ORDER BY c DESC, to_type) AS rn
      |            FROM train) WHERE rn = 1),
      |test AS (SELECT from_type, to_type FROM tt WHERE event_id % 5 = 0)
      |SELECT t.from_type, m.predicted, COUNT(*) AS n_test,
      |       COUNT(*) FILTER (t.to_type = m.predicted) AS n_correct,
      |       CAST(COUNT(*) FILTER (t.to_type = m.predicted) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE) AS accuracy
      |FROM test t LEFT JOIN model m ON m.from_type = t.from_type
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val sess = graft.operators.Sessionize.assignSessions(
      Tables.events(s, d).select("user_id", "event_id", "ts", "event_type"),
      "user_id", "event_id", "ts", gap = 1800000000000L)
    val w = Window.partitionBy("user_id", "session_id").orderBy("event_id")
    val tt = sess
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_id"), col("event_type").as("from_type"), col("to_type"))
    val train = tt.filter(col("event_id") % 5 =!= 0)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("g_c"))
    val mw = Window.partitionBy("from_type")
      .orderBy(col("g_c").desc, col("to_type"))
    val model = train.withColumn("g_rn", row_number().over(mw))
      .filter(col("g_rn") === 1)
      .select(col("from_type"), col("to_type").as("predicted"))
    tt.filter(col("event_id") % 5 === 0)
      .join(broadcast(model), Seq("from_type"), "left")
      .groupBy("from_type", "predicted")
      .agg(count(lit(1)).as("n_test"),
        count(when(col("to_type") === col("predicted"), 1)).as("n_correct"))
      .selectExpr("from_type", "predicted", "n_test", "n_correct",
        "CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE) AS accuracy")
  }

  /** q208 — per-day distinct-user KMV sketch table (the DAU tile
    * backed by a MERGEABLE sketch instead of a nightly COUNT
    * DISTINCT): bottom-64 of each day's distinct user hashes via
    * [[graft.functions.Kmv.groupSketch]] (salted two-phase — the heavy
    * per-group sort parallelizes 32-wide, the group shuffle carries
    * ≤ 32·k rows per day), estimates via the integer Beyer et al.
    * estimator, exact DAU riding along in the same row so the driver's
    * compare pins estimator against target per group. This is the
    * BATCH build of exactly the table [[graft.streaming.Events
    * .kmvSketchMaintainBatch]] maintains incrementally (bottom-k of
    * standing ∪ arriving = bottom-k of all — `KmvStreamSpec` pins the
    * equivalence); at 100 TB the standing table is |days|·k rows and a
    * day's re-estimate after each arrival batch touches no history.
    * All arithmetic integer over the house h40 — approximate ANSWER,
    * exact GATE (the q191 rule, applied per-group). */
  val q208 = {
    val k = 64
    val h = Kmv.h40Sql("CAST(user_id AS VARCHAR)")
    Q("q208_kmv_daily_users",
      s"""WITH h AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
         |                           $h AS g_h40 FROM events),
         |r AS (SELECT day, g_h40,
         |             row_number() OVER (PARTITION BY day ORDER BY g_h40) AS rn
         |      FROM h),
         |e AS (SELECT day, COUNT(*) AS g_cnt, MAX(g_h40) AS g_kth
         |      FROM r WHERE rn <= $k GROUP BY 1),
         |x AS (SELECT day, COUNT(*) AS exact_users
         |      FROM (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
         |                            user_id FROM events) GROUP BY 1)
         |SELECT e.day, ${Kmv.estimateSql("g_cnt", "g_kth", k)} AS distinct_est,
         |       x.exact_users
         |FROM e JOIN x USING (day)""".stripMargin) { (s, d) =>
      val ud = Tables.events(s, d)
        .select(expr("ts div 86400000000000").as("day"),
          col("user_id").cast("string").as("u"))
      val hashed = ud.select(col("day"), Kmv.h40(col("u")).as("g_h40"))
      val est = Kmv.groupEstimates(
        Kmv.groupSketch(hashed, "day", "g_h40", k), "day", "g_h40", k)
      val exact = ud.distinct()
        .groupBy("day").agg(count(lit(1)).as("exact_users"))
      est.join(exact, Seq("day"))
    }
  }

  /** q209 — Gini concentration of customer revenue (Gini 1912, via the
    * Lorenz rank-sum form): G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over
    * per-customer revenue cents sorted ascending — the one-number
    * answer to "how top-heavy is our revenue". Exact all the way:
    * integer cents, rank sums computed from the REVENUE-VALUE
    * HISTOGRAM (a block of c ties at value v with P predecessors
    * contributes v·(c·P + c(c+1)/2) — tie-order invariant by
    * construction), products in DECIMAL(38)/HUGEINT, ONE double
    * division at the end (the q200 rule). Scale shape: one shuffle to
    * per-customer totals, one to the value histogram, and the prefix
    * counts come from [[graft.operators.PrefixScan]] — the two-level
    * scan whose only unpartitioned window runs on the BUCKET domain,
    * so no customer-domain relation ever sorts in one task (the wall
    * a bare `Window.orderBy` global rank would hit at 10⁸ customers). */
  val q209 = Q("q209_gini_revenue",
    """WITH pc AS (SELECT o_custkey,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |       FROM orders GROUP BY 1),
      |h AS (SELECT cents, COUNT(*) AS c FROM pc GROUP BY 1),
      |p AS (SELECT cents, c,
      |        COALESCE(SUM(c) OVER (ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pf
      |      FROM h),
      |a AS (SELECT SUM(CAST(cents AS HUGEINT) * (c * pf + (c * (c + 1)) // 2)) AS s,
      |             SUM(CAST(cents AS HUGEINT) * c) AS t,
      |             CAST(SUM(c) AS BIGINT) AS n FROM p)
      |SELECT n AS n_customers, CAST(t AS BIGINT) AS total_cents,
      |       CAST(2 * s - (n + 1) * t AS DOUBLE) / CAST(n * t AS DOUBLE) AS gini
      |FROM a""".stripMargin) { (s, d) =>
    val pc = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))
    val hist = pc.groupBy("cents").agg(count(lit(1)).as("g_c"))
    // prefix count of strictly-poorer customers, bucketed by $10k bands
    val pref = graft.operators.PrefixScan.exclusiveRunningSum(
      hist, "cents", "g_c", "g_pf", expr("cents div 1000000"))
    pref
      .selectExpr(
        "CAST(cents AS DECIMAL(38,0)) * (g_c * g_pf + (g_c * (g_c + 1)) div 2) AS g_s",
        "CAST(cents AS DECIMAL(38,0)) * g_c AS g_t", "g_c")
      .agg(sum("g_s").as("g_ss"), sum("g_t").as("g_tt"), sum("g_c").as("g_n"))
      .selectExpr("g_n AS n_customers", "CAST(g_tt AS BIGINT) AS total_cents",
        "CAST(2 * g_ss - (g_n + 1) * g_tt AS DOUBLE) / CAST(g_n * g_tt AS DOUBLE) AS gini")
  }

  /** q210 — weekday seasonality indices of revenue: per ISO weekday,
    * (mean daily revenue for that weekday) / (overall mean daily
    * revenue), computed as ONE IEEE division of two exact
    * DECIMAL(38)/HUGEINT cross-products — dow_cents·n_all_days over
    * n_dow_days·total_cents — so the "1.0 = average day" dashboard
    * index hash-gates. Day-domain aggregates only (the q197 bounded-
    * domain argument); isodow via `weekday+1` ≡ `isodow` (the q205
    * week-start dodge). The multiplicative-seasonality complement of
    * q200's autocorrelation (which PROVES the weekly cycle; this one
    * quantifies its amplitude per day-of-week). */
  val q210 = Q("q210_weekday_seasonality",
    """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |       FROM orders GROUP BY 1),
      |b AS (SELECT isodow(day) AS isodow, COUNT(*) AS n_days,
      |             CAST(SUM(cents) AS BIGINT) AS dow_cents FROM d GROUP BY 1),
      |t AS (SELECT COUNT(*) AS nd, CAST(SUM(cents) AS BIGINT) AS tot FROM d)
      |SELECT isodow, n_days, dow_cents,
      |       CAST(CAST(dow_cents AS HUGEINT) * nd AS DOUBLE) /
      |       CAST(CAST(n_days AS HUGEINT) * tot AS DOUBLE) AS seasonality
      |FROM b, t""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))
    val bydow = daily.groupBy((weekday(col("day")) + 1).as("isodow"))
      .agg(count(lit(1)).as("n_days"), sum("cents").as("dow_cents"))
    val tot = daily.agg(count(lit(1)).as("g_nd"), sum("cents").as("g_tot"))
    bydow.crossJoin(broadcast(tot))
      .selectExpr("isodow", "n_days", "dow_cents",
        "CAST(CAST(dow_cents AS DECIMAL(38,0)) * g_nd AS DOUBLE) / " +
          "CAST(CAST(n_days AS DECIMAL(38,0)) * g_tot AS DOUBLE) AS seasonality")
  }

  /** q211 — cohort LTV curves: customers cohorted by FIRST-order month
    * (ym = year·12 + month, pure integer calendar — no interval
    * arithmetic seam), revenue accumulated by months-since-first-order
    * age, reported as cumulative cents and per-customer LTV (one IEEE
    * division of exact ints per row). The forward-looking closure of
    * q167's retention triangle: that one counts who comes BACK, this
    * one integrates what they SPEND. Shape: two shuffles on the
    * customer key (cohort assignment is a min-aggregate + equi-join,
    * broadcast-sized cohort dimension rides back onto the curve), and
    * the cumulative window partitions by COHORT over age rows —
    * months-domain partitions, never customers. */
  val q211 = Q("q211_cohort_ltv",
    """WITH o AS (SELECT o_custkey,
      |         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS ym,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |       FROM orders),
      |c AS (SELECT o_custkey, MIN(ym) AS coh FROM o GROUP BY 1),
      |sz AS (SELECT coh, COUNT(*) AS n_customers FROM c GROUP BY 1),
      |r AS (SELECT c.coh, o.ym - c.coh AS age, CAST(SUM(o.cents) AS BIGINT) AS rev
      |      FROM o JOIN c USING (o_custkey) GROUP BY 1, 2),
      |m AS (SELECT coh, age,
      |             CAST(SUM(rev) OVER (PARTITION BY coh ORDER BY age) AS BIGINT) AS cum_cents
      |      FROM r)
      |SELECT m.coh AS cohort_ym, m.age, sz.n_customers, m.cum_cents,
      |       CAST(m.cum_cents AS DOUBLE) / CAST(sz.n_customers AS DOUBLE) AS ltv
      |FROM m JOIN sz USING (coh)""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("ym"),
      (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long").as("cents"))
    val coh = o.groupBy("o_custkey").agg(min("ym").as("g_coh"))
    val sized = coh.groupBy("g_coh").agg(count(lit(1)).as("n_customers"))
    val rev = o.join(coh, Seq("o_custkey"))
      .groupBy(col("g_coh"), (col("ym") - col("g_coh")).as("age"))
      .agg(sum("cents").as("g_rev"))
    val wc = Window.partitionBy("g_coh").orderBy("age")
    rev.withColumn("cum_cents", sum("g_rev").over(wc))
      .join(broadcast(sized), Seq("g_coh"))
      .selectExpr("g_coh AS cohort_ym", "age", "n_customers", "cum_cents",
        "CAST(cum_cents AS DOUBLE) / CAST(n_customers AS DOUBLE) AS ltv")
  }

  /** q212 — exponential smoothing of daily revenue in exact FIXED-POINT
    * integer arithmetic (Brown 1956's simple ES): s₁ = x₁,
    * sₜ = (xₜ + 4·sₜ₋₁) div 5 — α = 1/5 expressed as an integer
    * recurrence, so the smoothed level and the residual both
    * hash-gate (float ES never would: its reduction order is the
    * answer). Same execution discipline as q197's CUSUM: the recursion
    * is inherently sequential but runs over the AGGREGATED day domain
    * (bounded at any corpus scale) after one map-side-combined
    * groupBy, driver-folded, while the oracle replays it as a
    * recursive CTE. The trend-following complement of q197 (which
    * detects level SHIFTS; this one tracks the level itself — its
    * residual is the anomaly signal q133 thresholds). */
  val q212 = Q("q212_ses_revenue",
    """WITH RECURSIVE d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |i AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM d),
      |c AS (
      |  SELECT rn, day, cents, cents AS s FROM i WHERE rn = 1
      |  UNION ALL
      |  SELECT i.rn, i.day, i.cents, (i.cents + 4 * c.s) // 5
      |  FROM c JOIN i ON i.rn = c.rn + 1)
      |SELECT day, cents, s AS smoothed, cents - s AS residual
      |FROM c""".stripMargin) { (s, d) =>
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))
      .orderBy("day")
    // collect() allowlist: domain is |distinct o_orderdate| —
    // calendar-bounded at any corpus scale, never |orders| — and the
    // SES recurrence s_i = (x_i + 4·s_{i−1})/5 is non-associative
    // under integer floor division, so a driver fold over the bounded
    // domain is the correct plan (q197's justification, stated here
    // per the PrefixScan-allowlist standard). Plain `/` (truncation
    // toward zero), because DuckDB's integer `//` TRUNCATES (measured:
    // -7 // 5 = -1) — Scala `/` is the matching operator on
    // negative-revenue days, floorDiv is not.
    val rows = daily.collect().map(r => (r.getDate(0), r.getLong(1)))
    var run = 0L
    val out = rows.zipWithIndex.map { case ((day, cents), i) =>
      run = if (i == 0) cents else (cents + 4 * run) / 5L
      (day, cents, run, cents - run)
    }
    import s.implicits._
    out.toSeq.toDF("day", "cents", "smoothed", "residual")
  }

  /** q213 — decision-stump training (CART's 1-split tree, Breiman et
    * al. 1984) INSIDE the engine: the best threshold on event value
    * for predicting a purchase, by minimal weighted Gini impurity.
    * Everything before the final comparison is exact: candidate
    * splits are the distinct floor(value) levels, per-candidate
    * (n, positives) cumulative counts come from TWO
    * [[graft.operators.PrefixScan]] passes over the value histogram
    * (no customer/value-domain single-task window), and each
    * candidate's impurity is the exact rational
    * [p_L(n_L−p_L)·n_R + p_R(n_R−p_R)·n_L] / (n_L·n_R) in
    * DECIMAL(38)/HUGEINT — ONE IEEE division per candidate, argmin
    * with threshold tiebreak (both engines sort the same doubles over
    * the same exact operands). The supervised sibling of q207's
    * Markov eval: model TRAINING as two shuffles and a TakeOrdered. */
  val q213 = Q("q213_decision_stump",
    """WITH e AS (SELECT CAST(floor("value") AS BIGINT) AS x,
      |                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      |           FROM events),
      |h AS (SELECT x, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS p FROM e GROUP BY 1),
      |c AS (SELECT x, n, p,
      |        CAST(SUM(n) OVER w AS BIGINT) AS nl, CAST(SUM(p) OVER w AS BIGINT) AS pl
      |      FROM h WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(p) AS BIGINT) AS tp FROM h),
      |cand AS (
      |  SELECT c.x AS threshold, c.nl AS n_left, c.pl AS p_left,
      |         t.tn - c.nl AS n_right, t.tp - c.pl AS p_right
      |  FROM c, t WHERE t.tn - c.nl > 0),
      |scored AS (
      |  SELECT *,
      |    CAST(CAST(p_left AS HUGEINT) * (n_left - p_left) * n_right
      |         + CAST(p_right AS HUGEINT) * (n_right - p_right) * n_left AS DOUBLE)
      |      / CAST(CAST(n_left AS HUGEINT) * n_right AS DOUBLE) AS split_score
      |  FROM cand)
      |SELECT threshold, n_left, p_left, n_right, p_right, split_score
      |FROM scored ORDER BY split_score, threshold LIMIT 1""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d).select(
      floor(col("value")).cast("long").as("x"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val hist = e.groupBy("x").agg(count(lit(1)).as("g_n"), sum("y").as("g_p"))
    val cum = graft.operators.PrefixScan.exclusiveRunningSum(
      graft.operators.PrefixScan.exclusiveRunningSum(
        hist, "x", "g_n", "g_cn", expr("x div 100")),
      "x", "g_p", "g_cp", expr("x div 100"))
    val tot = hist.agg(sum("g_n").as("g_tn"), sum("g_p").as("g_tp"))
    cum.crossJoin(broadcast(tot))
      .selectExpr("x AS threshold",
        "g_cn + g_n AS n_left", "g_cp + g_p AS p_left",
        "g_tn - (g_cn + g_n) AS n_right", "g_tp - (g_cp + g_p) AS p_right")
      .filter(col("n_right") > 0)
      .selectExpr("threshold", "n_left", "p_left", "n_right", "p_right",
        "CAST(CAST(p_left AS DECIMAL(38,0)) * (n_left - p_left) * n_right" +
          " + CAST(p_right AS DECIMAL(38,0)) * (n_right - p_right) * n_left AS DOUBLE)" +
          " / CAST(CAST(n_left AS DECIMAL(38,0)) * n_right AS DOUBLE) AS split_score")
      .orderBy(col("split_score"), col("threshold")).limit(1)
  }

  /** q214 — integer multinomial NAIVE BAYES (McCallum & Nigam 1998),
    * trained AND evaluated in the engine, with the transcendental
    * −log₂ P(tok|class) replaced by the house's exact bit-length
    * surrogate (the q113 charlm conditional form): cost =
    * bl(class_token_total) − bl(freq), OOV = bl(class_token_total)+2,
    * prior = bl(train_docs) − bl(class_docs), bl(x) = ⌊log₂ x⌋+1.
    * Split is the q207 pure-function rule (doc_id ≢ 0 mod 5 trains);
    * prediction is argmin(total bits, tie → class ascending); the
    * report is per-class exact recall counts plus ONE IEEE division.
    * Honest fixture caveat: the synthetic corpus draws every language
    * from the SAME 31-token vocabulary, so class recall sits near
    * chance — what the gate pins is the exact train/score/argmin
    * pipeline, not fixture separability (the accuracy column is real
    * signal on any real corpus). Scale: costs are vocab×|classes|
    * rows, scoring is a ×|classes| broadcast fanout + one
    * (class, token) equi-join + one (doc, class) aggregate — no
    * collect anywhere, nothing corpus-wide on the driver. */
  val q214 = Q("q214_naive_bayes_langid",
    """WITH toks AS (
      |  SELECT doc_id, lang, tok FROM (
      |    SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS tok
      |    FROM documents) WHERE length(tok) > 0),
      |train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
      |ctot AS (SELECT lang AS c_lang, COUNT(*) AS ntok FROM train GROUP BY 1),
      |costs AS (SELECT lang AS c_lang, tok, COUNT(*) AS freq FROM train GROUP BY 1, 2),
      |prior AS (SELECT t.c_lang,
      |                 length(bin((SELECT COUNT(DISTINCT doc_id) FROM train)))
      |                   - length(bin(COUNT(DISTINCT d.doc_id))) AS pcost
      |          FROM ctot t JOIN train d ON d.lang = t.c_lang GROUP BY 1),
      |test AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
      |scored AS (
      |  SELECT t.doc_id, t.lang AS actual, ct.c_lang,
      |         CAST(SUM(CASE WHEN c.freq IS NULL THEN length(bin(ct.ntok)) + 2
      |                       ELSE length(bin(ct.ntok)) - length(bin(c.freq)) END) AS BIGINT)
      |           + MIN(p.pcost) AS bits
      |  FROM test t CROSS JOIN ctot ct
      |  JOIN prior p ON p.c_lang = ct.c_lang
      |  LEFT JOIN costs c ON c.c_lang = ct.c_lang AND c.tok = t.tok
      |  GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT doc_id, actual, c_lang AS predicted FROM (
      |    SELECT doc_id, actual, c_lang,
      |           row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY bits, c_lang) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT actual, COUNT(*) AS n_test,
      |       COUNT(*) FILTER (actual = predicted) AS n_correct,
      |       CAST(COUNT(*) FILTER (actual = predicted) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE) AS recall
      |FROM pred GROUP BY 1""".stripMargin) { (s, d) =>
    val bl = (c: org.apache.spark.sql.Column) => length(bin(c)).cast("long")
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(split(trim(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val train = toks.filter(col("doc_id") % 5 =!= 0)
    val ctot = train.groupBy(col("lang").as("c_lang"))
      .agg(count(lit(1)).as("g_ntok"))
    val costs = train.groupBy(col("lang").as("c_lang"), col("tok"))
      .agg(count(lit(1)).as("g_freq"))
    val nTrainDocs = train.select("doc_id").distinct()
      .agg(count(lit(1)).as("g_alldocs"))
    val prior = train.select("doc_id", "lang").distinct()
      .groupBy(col("lang").as("c_lang")).agg(count(lit(1)).as("g_cdocs"))
      .crossJoin(broadcast(nTrainDocs))
      .select(col("c_lang"),
        (bl(col("g_alldocs")) - bl(col("g_cdocs"))).as("g_pcost"))
    val classes = ctot.join(prior, Seq("c_lang"))
    val test = toks.filter(col("doc_id") % 5 === 0)
    val scored = test.crossJoin(broadcast(classes))
      .join(costs, Seq("c_lang", "tok"), "left")
      .withColumn("g_cost",
        when(col("g_freq").isNull, bl(col("g_ntok")) + 2L)
          .otherwise(bl(col("g_ntok")) - bl(col("g_freq"))))
      .groupBy(col("doc_id"), col("lang").as("actual"), col("c_lang"))
      .agg((sum(col("g_cost")) + min(col("g_pcost"))).as("g_bits"))
    val pw = Window.partitionBy("doc_id").orderBy(col("g_bits"), col("c_lang"))
    val pred = scored.withColumn("g_rn", row_number().over(pw))
      .filter(col("g_rn") === 1)
      .select(col("doc_id"), col("actual"), col("c_lang").as("predicted"))
    pred.groupBy("actual")
      .agg(count(lit(1)).as("n_test"),
        count(when(col("actual") === col("predicted"), 1)).as("n_correct"))
      .selectExpr("actual", "n_test", "n_correct",
        "CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE) AS recall")
  }

  /** q215 — JOIN-SIZE ESTIMATION from KMV sketches (Beyer et al.
    * SIGMOD'07 §5; the F₂ self-join case is the AGMS second frequency
    * moment): the optimizer-statistics primitive that prices a join
    * WITHOUT running it. For keys in the bottom-k sketch of the key
    * union, exact per-side multiplicities are counted (a broadcast
    * k-row semi-join per side — nothing fact-sized shuffles), and
    * |A ⋈ B| ≈ n̂_union · (Σ m_A·m_B over sketch keys) / k, computed as
    * ONE integer floor division of exact DECIMAL(38)/HUGEINT products
    * — ((k−1)·2⁴⁰·Σ) div (h₍ₖ₎·k) — so the estimate replays
    * bit-for-bit in the oracle (the q191 rule). Reported next to the
    * EXACT join count and the exact partkey self-join size (F₂), so
    * the driver's gate pins estimator against target: at sf0.01 the
    * estimates land within ~5 %. Unsaturated sketches degrade to the
    * exact answer (the sketch IS the key set). Estimates operate in
    * h40 space (hash collisions are estimator noise by design); the
    * exact columns use true keys. */
  val q215 = {
    val k = 256
    val c = (k - 1).toLong * Kmv.R40
    val hO = Kmv.h40Sql("CAST(o_orderkey AS VARCHAR)")
    val hL = Kmv.h40Sql("CAST(l_orderkey AS VARCHAR)")
    val hP = Kmv.h40Sql("CAST(l_partkey AS VARCHAR)")
    Q("q215_join_size_estimate",
      s"""WITH oh AS (SELECT $hO AS h FROM orders),
         |lh AS (SELECT $hL AS h FROM lineitem),
         |ph AS (SELECT $hP AS h FROM lineitem),
         |uni AS (SELECT DISTINCT h FROM (SELECT h FROM oh UNION SELECT h FROM lh)),
         |sk AS (SELECT h FROM uni ORDER BY h LIMIT $k),
         |sm AS (SELECT COUNT(*) AS cnt, MAX(h) AS kth FROM sk),
         |ma AS (SELECT h, COUNT(*) AS m FROM oh WHERE h IN (SELECT h FROM sk) GROUP BY 1),
         |mb AS (SELECT h, COUNT(*) AS m FROM lh WHERE h IN (SELECT h FROM sk) GROUP BY 1),
         |sp AS (SELECT CAST(SUM(COALESCE(ma.m, 0) * COALESCE(mb.m, 0)) AS BIGINT) AS sp
         |       FROM sk LEFT JOIN ma USING (h) LEFT JOIN mb USING (h)),
         |sk2 AS (SELECT h FROM (SELECT DISTINCT h FROM ph) ORDER BY h LIMIT $k),
         |sm2 AS (SELECT COUNT(*) AS cnt, MAX(h) AS kth FROM sk2),
         |sq AS (SELECT CAST(SUM(m * m) AS BIGINT) AS sq FROM (
         |         SELECT h, COUNT(*) AS m FROM ph
         |         WHERE h IN (SELECT h FROM sk2) GROUP BY 1)),
         |xj AS (SELECT COUNT(*) AS exact_join
         |       FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |xf AS (SELECT CAST(SUM(CAST(m AS HUGEINT) * m) AS BIGINT) AS exact_f2
         |       FROM (SELECT COUNT(*) AS m FROM lineitem GROUP BY l_partkey))
         |SELECT
         |  CASE WHEN sm.cnt < $k THEN sp.sp
         |       ELSE CAST((CAST($c AS HUGEINT) * sp.sp) // (sm.kth * sm.cnt) AS BIGINT) END AS est_join,
         |  xj.exact_join,
         |  CASE WHEN sm2.cnt < $k THEN sq.sq
         |       ELSE CAST((CAST($c AS HUGEINT) * sq.sq) // (sm2.kth * sm2.cnt) AS BIGINT) END AS est_selfjoin_parts,
         |  xf.exact_f2 AS exact_selfjoin_parts
         |FROM sm, sp, sm2, sq, xj, xf""".stripMargin) { (s, d) =>
      val oh = Tables.orders(s, d)
        .select(Kmv.h40(col("o_orderkey").cast("string")).as("h"))
      val lh = Tables.lineitem(s, d)
        .select(Kmv.h40(col("l_orderkey").cast("string")).as("h"))
      val ph = Tables.lineitem(s, d)
        .select(Kmv.h40(col("l_partkey").cast("string")).as("h"))
      val sk = spillParquet(
        Kmv.sketch(oh.distinct().unionAll(lh.distinct()).distinct(), "h", k),
        "graft_jse_sk_")
      val sm = Kmv.summary(sk, "h")
      val ma = oh.join(broadcast(sk), Seq("h")).groupBy("h")
        .agg(count(lit(1)).as("g_ma"))
      val mb = lh.join(broadcast(sk), Seq("h")).groupBy("h")
        .agg(count(lit(1)).as("g_mb"))
      val sp = sk.join(ma, Seq("h"), "left").join(mb, Seq("h"), "left")
        .agg(sum(coalesce(col("g_ma"), lit(0L)) *
          coalesce(col("g_mb"), lit(0L))).as("g_sp"))
      val sk2 = spillParquet(Kmv.sketch(ph, "h", k), "graft_jse_sk2_")
      val sm2 = Kmv.summary(sk2, "h")
        .select(col("g_cnt").as("g_cnt2"), col("g_kth").as("g_kth2"))
      val sq = ph.join(broadcast(sk2), Seq("h")).groupBy("h")
        .agg(count(lit(1)).as("g_m"))
        .agg(sum(col("g_m") * col("g_m")).as("g_sq"))
      val o = Tables.orders(s, d).select(col("o_orderkey"))
      val li = Tables.lineitem(s, d)
      val xj = o.join(li, o("o_orderkey") === li("l_orderkey"))
        .agg(count(lit(1)).as("exact_join"))
      val xf = li.groupBy("l_partkey").agg(count(lit(1)).as("g_m"))
        .agg(sum(col("g_m").cast(DecimalType(38, 0)) * col("g_m")).as("g_f2"))
      sm.crossJoin(sp).crossJoin(sm2).crossJoin(sq)
        .crossJoin(broadcast(xj)).crossJoin(broadcast(xf))
        .selectExpr(
          s"CASE WHEN g_cnt < $k THEN g_sp ELSE (CAST(${c}L AS DECIMAL(38,0)) * g_sp) div (g_kth * g_cnt) END AS est_join",
          "exact_join",
          s"CASE WHEN g_cnt2 < $k THEN g_sq ELSE (CAST(${c}L AS DECIMAL(38,0)) * g_sq) div (g_kth2 * g_cnt2) END AS est_selfjoin_parts",
          "CAST(g_f2 AS BIGINT) AS exact_selfjoin_parts")
    }
  }

  /** q216 — spend PERCENTILE feature transform: every customer's exact
    * revenue rank and percent_rank — the rank/CDF feature every churn
    * or propensity model starts from, and the transform that pushes
    * teams to a single-task `Window.orderBy` at exactly the moment the
    * customer table stops fitting one task. Here rank(x) = 1 + (count
    * of strictly-poorer customers), with the predecessor counts from
    * the value histogram via [[graft.operators.PrefixScan]] and joined
    * back on the value — the shuffle keys are (value, bucket), never a
    * global sort; ties share a rank by construction, exactly SQL
    * `RANK()`/`PERCENT_RANK()` semantics, which is what the oracle
    * replays. percent_rank is ONE IEEE division of exact ints per row. */
  val q216 = Q("q216_spend_percentile",
    """WITH pc AS (SELECT o_custkey,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |       FROM orders GROUP BY 1)
      |SELECT o_custkey, cents,
      |       rank() OVER (ORDER BY cents) AS spend_rank,
      |       percent_rank() OVER (ORDER BY cents) AS spend_pctl
      |FROM pc""".stripMargin) { (s, d) =>
    val pc = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("cents"))
    val hist = pc.groupBy("cents").agg(count(lit(1)).as("g_c"))
    val pref = graft.operators.PrefixScan.exclusiveRunningSum(
      hist, "cents", "g_c", "g_pf", expr("cents div 1000000"))
    val n = pc.agg(count(lit(1)).as("g_n"))
    pc.join(pref.select("cents", "g_pf"), Seq("cents"))
      .crossJoin(broadcast(n))
      .selectExpr("o_custkey", "cents", "g_pf + 1 AS spend_rank",
        "CASE WHEN g_n = 1 THEN CAST(0.0 AS DOUBLE) " +
          "ELSE CAST(g_pf AS DOUBLE) / CAST(g_n - 1 AS DOUBLE) END AS spend_pctl")
  }

  /** q217 — 3-core of the co-purchase graph via bounded peeling
    * ([[graft.operators.KCore]] — Seidman 1983, three rounds, the
    * oracle unrolls the same three): the dense-region prefilter that
    * completes the graph suite (components → PageRank → triangles →
    * BFS → SSSP → k-core). Same q206 edge construction (support ≥ 2
    * co-purchases, both directions); output is every surviving part
    * with its degree inside the peeled remnant. Peel rounds only
    * shrink the edge set, and each round's edges are staged, so
    * lineage stays round-deep. */
  val q217 = Q("q217_kcore_parts",
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (SELECT a.p AS x, b.p AS y FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS (SELECT x, y FROM e0 UNION ALL SELECT y, x FROM e0),
      |d1 AS (SELECT x AS v, COUNT(*) AS deg FROM e GROUP BY 1),
      |a1 AS (SELECT v FROM d1 WHERE deg >= 3),
      |e1 AS (SELECT e.x, e.y FROM e
      |       WHERE x IN (SELECT v FROM a1) AND y IN (SELECT v FROM a1)),
      |d2 AS (SELECT x AS v, COUNT(*) AS deg FROM e1 GROUP BY 1),
      |a2 AS (SELECT v FROM d2 WHERE deg >= 3),
      |e2 AS (SELECT e1.x, e1.y FROM e1
      |       WHERE x IN (SELECT v FROM a2) AND y IN (SELECT v FROM a2)),
      |d3 AS (SELECT x AS v, COUNT(*) AS deg FROM e2 GROUP BY 1)
      |SELECT v AS part, deg FROM d3 WHERE deg >= 3""".stripMargin) { (s, d) =>
    // co-purchase pairs via ONE shuffle (r17, the q190 basket build);
    // e0 is staged because the symmetrizing union references it twice
    val e0 = spillParquet(
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("o"))
        .agg(collect_set(col("l_partkey")).as("ps"))
        .select(explode(col("ps")).as("x"), col("ps"))
        .select(col("x"), explode(col("ps")).as("y"))
        .filter(col("x") < col("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("g_c"))
        .filter(col("g_c") >= 2).select("x", "y"),
      "graft_kcore_op_")
    val edges = spillParquet(
      e0.unionAll(e0.select(col("y").as("x"), col("x").as("y"))),
      "graft_kcore_e_")
    graft.operators.KCore.peel(edges, "x", "y", k = 3, rounds = 3)
      .select(col("v").as("part"), col("deg"))
  }

  /** q218 — per-column NDV statistics in ONE pass (the ANALYZE TABLE
    * primitive; with q215's join-size estimator this completes the
    * optimizer-statistics suite): stack (column_name, value-as-string)
    * pairs with a map-side explode, hash once, and let
    * [[graft.functions.Kmv.groupSketch]] produce every column's
    * bottom-k sketch in the same shuffle — |columns|·k standing rows
    * for any table width, one scan of the fact table regardless of how
    * many columns are profiled (per-column COUNT(DISTINCT) passes
    * would scan once EACH). Exact NDV and null counts ride along for
    * the gate; the estimate column is the integer Beyer estimator
    * (saturated columns estimate, unsaturated ones are exact by
    * construction). Values are hashed through their canonical string
    * form — bigint and yyyy-MM-dd date renderings are identical in
    * both engines (decimal columns would NOT be; they stay out). */
  val q218 = {
    val k = 64
    val h = Kmv.h40Sql("v")
    Q("q218_column_ndv_stats",
      s"""WITH stacked AS (
         |  SELECT 'o_custkey' AS c, CAST(o_custkey AS VARCHAR) AS v FROM orders
         |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
         |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
         |  UNION ALL SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders),
         |h AS (SELECT DISTINCT c, $h AS g_h40 FROM stacked WHERE v IS NOT NULL),
         |r AS (SELECT c, g_h40,
         |             row_number() OVER (PARTITION BY c ORDER BY g_h40) AS rn FROM h),
         |e AS (SELECT c, COUNT(*) AS g_cnt, MAX(g_h40) AS g_kth
         |      FROM r WHERE rn <= $k GROUP BY 1),
         |x AS (SELECT c, COUNT(DISTINCT v) AS exact_ndv,
         |             CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
         |      FROM stacked GROUP BY 1)
         |SELECT e.c AS col_name,
         |       ${Kmv.estimateSql("g_cnt", "g_kth", k)} AS ndv_est,
         |       x.exact_ndv, x.n_nulls
         |FROM e JOIN x USING (c)""".stripMargin) { (s, d) =>
      val stacked = Tables.orders(s, d).select(explode(array(
        struct(lit("o_custkey").as("c"), col("o_custkey").cast("string").as("v")),
        struct(lit("o_orderstatus").as("c"), col("o_orderstatus").cast("string").as("v")),
        struct(lit("o_orderpriority").as("c"), col("o_orderpriority").cast("string").as("v")),
        struct(lit("o_orderdate").as("c"),
          to_date(col("o_orderdate")).cast("string").as("v")))).as("s"))
        .select(col("s.c").as("c"), col("s.v").as("v"))
      val hashed = stacked.filter(col("v").isNotNull)
        .select(col("c"), Kmv.h40(col("v")).as("g_h40"))
      val est = Kmv.groupEstimates(
        Kmv.groupSketch(hashed, "c", "g_h40", k), "c", "g_h40", k)
        .select(col("c"), col("distinct_est").as("ndv_est"))
      val exact = stacked.groupBy("c")
        .agg(countDistinct(col("v")).as("exact_ndv"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"))
      est.join(exact, Seq("c")).withColumnRenamed("c", "col_name")
    }
  }

  /** One stats artifact per (JVM, fixture stamp) — the q136Dirs
    * pattern for the ANALYZE tier: base = orders with
    * o_orderkey % 5 ≠ 0 built and frozen, then the % 5 = 0 shard
    * ARRIVES through [[graft.functions.StatsIndex.addBatch]] (sketch
    * merge + counter add, one AtomicTable version each) — bench reps
    * measure the committed-artifact serve, not a rebuild. */
  private val q224Dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def statsIndexDir(s: org.apache.spark.sql.SparkSession,
                            d: String): String =
    q224Dirs.computeIfAbsent(Q.dataStamp(d), _ => {
      val t = graft.pipeline.TempDirs.scoped("graft_statsindex_")
      val o = Tables.orders(s, d)
      graft.functions.StatsIndex.build(
        graft.functions.StatsIndex.stackedOrders(
          o.filter(col("o_orderkey") % 5 =!= 0)), t, k = 64)
      graft.functions.StatsIndex.addBatch(
        graft.functions.StatsIndex.stackedOrders(
          o.filter(col("o_orderkey") % 5 === 0)), t, k = 64, batchId = 0L)
      t
    })

  /** q224 — ANALYZE stats SERVED from the persisted
    * [[graft.functions.StatsIndex]] artifact (r12 verdict item 8:
    * "maintained, not recomputed" — q148/q136's persistence treatment
    * for the sketch tier): per-column NDV estimate, null count and
    * row count read from the committed sketch + counter tables,
    * nothing rescanning the corpus at query time. The oracle is the
    * FROM-SCRATCH recompute over all of orders: bottom-k is lossless
    * under merge (every global bottom-k member is in its shard's
    * bottom-k) and counters are sums, so build(base) → addBatch(shard)
    * must equal the one-shot build bit-for-bit — the whole persisted
    * path is under the hash gate, not just argued mergeable. */
  val q224 = {
    val k = 64
    val h = Kmv.h40Sql("v")
    Q("q224_column_stats_from_index",
      s"""WITH stacked AS (
         |  SELECT 'o_custkey' AS c, CAST(o_custkey AS VARCHAR) AS v FROM orders
         |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
         |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
         |  UNION ALL SELECT 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS VARCHAR) FROM orders),
         |h AS (SELECT DISTINCT c, $h AS g_h40 FROM stacked WHERE v IS NOT NULL),
         |r AS (SELECT c, g_h40,
         |             row_number() OVER (PARTITION BY c ORDER BY g_h40) AS rn FROM h),
         |e AS (SELECT c, COUNT(*) AS g_cnt, MAX(g_h40) AS g_kth
         |      FROM r WHERE rn <= $k GROUP BY 1),
         |x AS (SELECT c,
         |             CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |             CAST(COUNT(*) AS BIGINT) AS n_rows
         |      FROM stacked GROUP BY 1)
         |SELECT e.c AS col_name,
         |       ${Kmv.estimateSql("g_cnt", "g_kth", k)} AS ndv_est,
         |       x.n_nulls, x.n_rows
         |FROM e JOIN x USING (c)""".stripMargin) { (s, d) =>
      graft.functions.StatsIndex.serve(s, statsIndexDir(s, d), k = 64)
    }
  }

  /** q228 — customer ENTITY RESOLUTION end-to-end, the full
    * record-linkage pipeline the q189 kernel exists for: BLOCK (same
    * nation — the block key rides IN the FastSS equi-join keys,
    * [[graft.functions.FuzzyJoin.ed1PairsBlocked]], so a hot name in
    * one country never meets its twin elsewhere), MATCH (name edit
    * distance ≤ 1, including exact-name twins via one (name, nation)
    * equi-join — ed1 pairs are strictly unequal by construction), and
    * CANONICALIZE (connected components over the match graph; every
    * customer gets the minimum reachable c_custkey as its surviving
    * canonical id, plus the cluster size for the dedup report). The
    * oracle replays the match set with the O(n²) `levenshtein` join the
    * prune avoids and the component fixpoint as the q68 recursive-CTE
    * transitive closure — the entire candidates → verify → clusters
    * chain under one hash gate. Scale shape: FastSS equi-joins per
    * block + connected components (driver union-find under the graph
    * cap, O(log n) star contraction above it); nothing quadratic. */
  val q228 = Q("q228_entity_resolution",
    """WITH RECURSIVE e0 AS (
      |  SELECT a.c_custkey AS ea, b.c_custkey AS eb
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      |reach(v, u) AS (
      |  SELECT c_custkey, c_custkey FROM customer
      |  UNION
      |  SELECT r.v, e.eb FROM reach r JOIN edges e ON r.u = e.ea),
      |lab AS (SELECT v, MIN(u) AS canon FROM reach GROUP BY 1)
      |SELECT CAST(v AS BIGINT) AS c_custkey,
      |       CAST(canon AS BIGINT) AS canonical_id,
      |       CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS cluster_size
      |FROM lab""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).select(col("c_custkey").cast("long")
      .as("c_custkey"), col("c_name"), col("c_nationkey"))
    // name-level ED ≤ 1 pairs within the nation block, bound back to
    // custkeys by (name, nation) — names may repeat across customers
    val byName = (side: String) => c.select(col("c_name").as(s"w_$side"),
      col("c_nationkey").as("blk"), col("c_custkey").as(s"g_k$side"))
    val ed1 = FuzzyJoin.ed1PairsBlocked(c, "c_name", "c_nationkey")
      .join(byName("a"), Seq("w_a", "blk"))
      .join(byName("b"), Seq("w_b", "blk"))
      .select(least(col("g_ka"), col("g_kb")).as("ea"),
        greatest(col("g_ka"), col("g_kb")).as("eb"))
    // exact-name twins (lev = 0): one equi-join on the block + name
    val eq = c.select(col("c_name"), col("c_nationkey"),
        col("c_custkey").as("ea"))
      .join(c.select(col("c_name"), col("c_nationkey"),
        col("c_custkey").as("eb")), Seq("c_name", "c_nationkey"))
      .filter(col("ea") < col("eb"))
      .select("ea", "eb")
    val lab = graft.operators.Components.connectedComponents(
      ed1.union(eq).distinct(), c.select(col("c_custkey")))
    lab.select(col("v").as("c_custkey"), col("component").as("canonical_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("canonical_id")).cast("long"))
  }

  /** q235 — EXACT heavy hitters in two bounded-memory passes: every
    * user with MORE than 1/140 of all purchase events ("whale
    * customers"), exact counts. Pass 1 is a Misra–Gries summary
    * aggregate whose partial buffers are capped at 140 counters — the
    * exchange carries ≤ partitions·140 rows whatever the user
    * cardinality (the property that matters at 100 TB, where
    * `groupBy.count` over a high-cardinality key sizes the shuffle by
    * the vocabulary); pass 2 recounts the ≤ 140 candidates exactly.
    * The MG underestimate bound (≤ n/(k+1)) makes the candidate set
    * provably complete, so the brute-force GROUP BY/HAVING is the
    * oracle — the deterministic exact tier next to the probabilistic
    * CMS (q77) and KMV (q191/q208) sketches. */
  val q235 = Q("q235_purchase_whales",
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events
      |           WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      |n AS (SELECT COUNT(*) AS n FROM t)
      |SELECT v AS user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM t, n
      |GROUP BY v, n.n
      |HAVING COUNT(*) * 140 > n.n""".stripMargin) { (s, d) =>
    graft.operators.HeavyHitters.exactOverThreshold(
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id")),
      "user_id", m = 140)
  }

  /** q238 — the fuzzy join one threshold up: nation-blocked customer
    * name pairs at edit distance ≤ 2 (two typos — the realistic
    * record-linkage radius). Candidates from the depth-≤2
    * symmetric-delete neighborhood ([[graft.functions.FuzzyJoin
    * .ed2PairsBlocked]] proves the prune lossless), verified by the
    * banded O(5n) [[graft.plans.WithinEd2]] kernel; the oracle is the
    * per-block quadratic `levenshtein` join the prune avoids — the
    * q189/q178 candidates-under-the-gate discipline at k = 2. */
  val q238 = Q("q238_fuzzy_name_join_ed2",
    """WITH v AS (SELECT DISTINCT c_nationkey AS blk, c_name AS w FROM customer)
      |SELECT a.blk, a.w AS w_a, b.w AS w_b
      |FROM v a JOIN v b ON a.blk = b.blk AND a.w < b.w
      |WHERE levenshtein(a.w, b.w) <= 2""".stripMargin) { (s, d) =>
    FuzzyJoin.ed2PairsBlocked(Tables.customer(s, d), "c_name", "c_nationkey")
  }

  /** q239 — INCREMENTAL entity resolution ≡ one-shot: customers arrive
    * in 3 deterministic hash batches, each folding through
    * [[graft.operators.IncrementalEr.maintainBatch]] (arrival-probe
    * FastSS edges + contracted-label CC + AtomicTable commit per
    * batch), and the final served assignment is gated against q228's
    * one-shot recursive-CTE oracle VERBATIM — labels are min-custkey
    * ids and min-of-mins is the global min, so the fold must reproduce
    * the full fixpoint exactly. The q180/q181 incremental-equals-batch
    * discipline applied to the record-linkage tier. */
  val q239 = Q("q239_incremental_entity_resolution", q228.oracle.get) { (s, d) =>
    val dir = graft.pipeline.TempDirs.scoped("graft_incer_") + "/er"
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    (0 until 3).foreach { b =>
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === b), b.toLong)
    }
    graft.operators.IncrementalEr.resolved(s, dir)
  }

  /** q261 — NORMALIZED entity resolution: q228's block → match → CC
    * pipeline run over a CANONICAL name key instead of the raw string
    * — NFC unicode normalization ([[graft.plans.NativeExpressions
    * .nfc]], the q121 kernel), casefold, trim, and token sort (so
    * "Smith Anna" ≡ "anna smith") — the preprocessing every real
    * record-linkage system applies before spending its edit-distance
    * budget, composed entirely from primitives already in the engine.
    * Normalization runs BEFORE blocking/matching, so two records a
    * case or token-order difference would push past the ED ≤ 1 radius
    * still link; the ED budget is spent only on genuine typos. The
    * oracle replays the IDENTICAL normalization in DuckDB
    * (nfc_normalize/lower/trim/list_sort) and then q228's exact
    * algebra — O(n²) levenshtein join + recursive-CTE closure — over
    * the normalized column, so the hash gate verifies normalization
    * parity across 1500+ names AND the cluster fixpoint; the
    * crafted-variant behavior (case, token order, accent + typo
    * composition) is pinned in MiningSpec. Scale shape is exactly
    * q228: normalization is map-only, everything downstream is the
    * same FastSS equi-joins + connected components. */
  val q261 = Q("q261_entity_resolution_normalized",
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey, c_nationkey,
      |         array_to_string(list_sort(string_split(
      |           lower(trim(nfc_normalize(c_name))), ' ')), ' ') AS w
      |  FROM customer),
      |e0 AS (
      |  SELECT a.c_custkey AS ea, b.c_custkey AS eb
      |  FROM c a JOIN c b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.w, b.w) <= 1),
      |edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      |reach(v, u) AS (
      |  SELECT c_custkey, c_custkey FROM c
      |  UNION
      |  SELECT r.v, e.eb FROM reach r JOIN edges e ON r.u = e.ea),
      |lab AS (SELECT v, MIN(u) AS canon FROM reach GROUP BY 1)
      |SELECT CAST(v AS BIGINT) AS c_custkey,
      |       CAST(canon AS BIGINT) AS canonical_id,
      |       CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS cluster_size
      |FROM lab""".stripMargin) { (s, d) =>
    resolveNormalized(Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"), col("c_nationkey")))
  }

  /** q261's canonical name key — NFC, casefold, trim, token sort —
    * factored so the one-shot (q261), incremental (q272), and
    * forget (q273) forms normalize IDENTICALLY. */
  private[graft] def normName(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(" ", sort_array(split(
      lower(trim(graft.plans.NativeExpressions.nfc(c))), " ")))

  /** q261's engine body over any (c_custkey, c_name, c_nationkey)
    * relation — factored so the spec can drive crafted variants. */
  private[graft] def resolveNormalized(
      cust: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val c = cust.select(col("c_custkey"),
      normName(col("c_name")).as("c_name"),
      col("c_nationkey"))
    val byName = (side: String) => c.select(col("c_name").as(s"w_$side"),
      col("c_nationkey").as("blk"), col("c_custkey").as(s"g_k$side"))
    val ed1 = FuzzyJoin.ed1PairsBlocked(c, "c_name", "c_nationkey")
      .join(byName("a"), Seq("w_a", "blk"))
      .join(byName("b"), Seq("w_b", "blk"))
      .select(least(col("g_ka"), col("g_kb")).as("ea"),
        greatest(col("g_ka"), col("g_kb")).as("eb"))
    val eq = c.select(col("c_name"), col("c_nationkey"),
        col("c_custkey").as("ea"))
      .join(c.select(col("c_name"), col("c_nationkey"),
        col("c_custkey").as("eb")), Seq("c_name", "c_nationkey"))
      .filter(col("ea") < col("eb"))
      .select("ea", "eb")
    val lab = graft.operators.Components.connectedComponents(
      ed1.union(eq).distinct(), c.select(col("c_custkey")))
    lab.select(col("v").as("c_custkey"), col("component").as("canonical_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("canonical_id")).cast("long"))
  }

  /** q262 — right-to-be-forgotten on the MAINTAINED ER artifact
    * ([[graft.operators.IncrementalEr.forget]]): fold the customers in
    * 3 batches (the q239 path), then forget every custkey divisible by
    * 50 as a 4th commit — tombstoned labels, rewritten base
    * partitions, and the forgotten records' clusters RELABELED over
    * their remaining members (canonical ids can move, clusters can
    * split). The oracle is q228's exact algebra over `customer WHERE
    * c_custkey % 50 <> 0` — i.e. the served post-forget assignment
    * must equal a from-scratch resolution of the surviving records,
    * the same build-then-maintain ≡ one-shot discipline as q239 with
    * DELETION as the maintenance op. Split/canonical-move/emptied-
    * partition edges are pinned in MiningSpec. */
  val q262 = Q("q262_entity_resolution_forget",
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey, c_name, c_nationkey FROM customer
      |  WHERE c_custkey % 50 <> 0),
      |e0 AS (
      |  SELECT a.c_custkey AS ea, b.c_custkey AS eb
      |  FROM c a JOIN c b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      |reach(v, u) AS (
      |  SELECT c_custkey, c_custkey FROM c
      |  UNION
      |  SELECT r.v, e.eb FROM reach r JOIN edges e ON r.u = e.ea),
      |lab AS (SELECT v, MIN(u) AS canon FROM reach GROUP BY 1)
      |SELECT CAST(v AS BIGINT) AS c_custkey,
      |       CAST(canon AS BIGINT) AS canonical_id,
      |       CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS cluster_size
      |FROM lab""".stripMargin) { (s, d) =>
    val dir = graft.pipeline.TempDirs.scoped("graft_erforget_") + "/er"
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    (0 until 3).foreach { b =>
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === b), b.toLong)
    }
    graft.operators.IncrementalEr.forget(s, dir,
      c.filter(col("c_custkey") % 50 === 0).select("c_custkey"), 3L)
    graft.operators.IncrementalEr.resolved(s, dir)
  }

  /** q272 — INCREMENTAL NORMALIZED entity resolution: q261's canonical
    * key (NFC/casefold/token-sort) applied AT INGEST — each arrival
    * batch normalizes map-only, then folds through the same
    * [[graft.operators.IncrementalEr.maintainBatch]] as q239 — so the
    * maintained artifact resolves over canonical names from the first
    * record, the way a production record-linkage pipeline composes
    * (r14 verdict item 3: q261 normalized one-shot, q239/q262
    * maintained over RAW names; this closes the seam). Gated against
    * q261's one-shot oracle VERBATIM: the 3-batch normalized fold must
    * reproduce the normalized fixpoint exactly. */
  val q272 = Q("q272_incremental_er_normalized", q261.oracle.get) { (s, d) =>
    val dir = graft.pipeline.TempDirs.scoped("graft_incern_") + "/er"
    val c = Tables.customer(s, d).select(col("c_custkey"),
      normName(col("c_name")).as("c_name"), col("c_nationkey"))
    (0 until 3).foreach { b =>
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === b), b.toLong)
    }
    graft.operators.IncrementalEr.resolved(s, dir)
  }

  /** q273 — right-to-be-forgotten on the NORMALIZED maintained
    * artifact: the q272 fold (canonical key at ingest) plus q262's
    * forget commit (every custkey divisible by 50), served assignment
    * gated against a from-scratch NORMALIZED resolution of the
    * surviving records — the full composition of the ER tiers
    * (normalize → maintain → forget) under one hash gate. */
  val q273 = Q("q273_er_normalized_forget",
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey, c_nationkey,
      |         array_to_string(list_sort(string_split(
      |           lower(trim(nfc_normalize(c_name))), ' ')), ' ') AS w
      |  FROM customer WHERE c_custkey % 50 <> 0),
      |e0 AS (
      |  SELECT a.c_custkey AS ea, b.c_custkey AS eb
      |  FROM c a JOIN c b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.w, b.w) <= 1),
      |edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      |reach(v, u) AS (
      |  SELECT c_custkey, c_custkey FROM c
      |  UNION
      |  SELECT r.v, e.eb FROM reach r JOIN edges e ON r.u = e.ea),
      |lab AS (SELECT v, MIN(u) AS canon FROM reach GROUP BY 1)
      |SELECT CAST(v AS BIGINT) AS c_custkey,
      |       CAST(canon AS BIGINT) AS canonical_id,
      |       CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS cluster_size
      |FROM lab""".stripMargin) { (s, d) =>
    val dir = graft.pipeline.TempDirs.scoped("graft_ernf_") + "/er"
    val c = Tables.customer(s, d).select(col("c_custkey"),
      normName(col("c_name")).as("c_name"), col("c_nationkey"))
    (0 until 3).foreach { b =>
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === b), b.toLong)
    }
    graft.operators.IncrementalEr.forget(s, dir,
      c.filter(col("c_custkey") % 50 === 0).select("c_custkey"), 3L)
    graft.operators.IncrementalEr.resolved(s, dir)
  }

  /** q274 — q262's right-to-be-forgotten with the forget set arriving
    * through a REAL Structured Streaming micro-batch (file source →
    * foreachBatch → [[graft.operators.IncrementalEr.forget]], with
    * checkpoint + AvailableNow — the [[graft.streaming.Events
    * .erOpsGateBatch]] serving path): the maintained artifact is built
    * exactly as q262, the tombstones stream in, and the served
    * assignment is gated against the same from-scratch oracle — the
    * replay-guard contract (monotone ids continue the table's commit
    * sequence) proven on the wire, not just in a spec. */
  val q274 = Q("q274_er_forget_streamed", q262.oracle.get) { (s, d) =>
    val root = graft.pipeline.TempDirs.scoped("graft_erfs_")
    val dir = root + "/er"
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    (0 until 3).foreach { b =>
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === b), b.toLong)
    }
    c.filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").cast("long").as("c_custkey"))
      .write.parquet(s"$root/forgets")
    def gate(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      graft.operators.IncrementalEr.forget(s, dir, df, 3L + id)
    val q = s.readStream.schema("c_custkey LONG").parquet(s"$root/forgets")
      .writeStream.foreachBatch(gate _)
      .option("checkpointLocation", s"$root/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.IncrementalEr.resolved(s, dir)
  }

  /** q275 — MIXED upsert/forget STREAM on the maintained ER artifact
    * ([[graft.streaming.Events.erOpsGateBatch]] driven by a real
    * Structured Streaming file source, `maxFilesPerTrigger = 1` +
    * AvailableNow, so multiple genuine micro-batches fire): each
    * trigger carries one custkey-slice of arrivals PLUS forgets of
    * records in that same slice — the forget-of-a-same-trigger-arrival
    * compliance-order case the gate's docstring claims, proven on the
    * wire. The gate maps stream batch b to artifact ids (2b, 2b+1)
    * (arrivals fold first, then tombstones), so both ops replay-guard
    * independently. Slices are custkey-disjoint, so the final fixpoint
    * is trigger-order-independent, and the oracle is q228's exact
    * algebra over the NET SURVIVORS (`c_custkey % 40 <> 0`) — the
    * streamed interleaving must land exactly on the from-scratch
    * resolution of what remains. */
  val q275 = Q("q275_er_ops_streamed",
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey, c_name, c_nationkey FROM customer
      |  WHERE c_custkey % 40 <> 0),
      |e0 AS (
      |  SELECT a.c_custkey AS ea, b.c_custkey AS eb
      |  FROM c a JOIN c b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      |reach(v, u) AS (
      |  SELECT c_custkey, c_custkey FROM c
      |  UNION
      |  SELECT r.v, e.eb FROM reach r JOIN edges e ON r.u = e.ea),
      |lab AS (SELECT v, MIN(u) AS canon FROM reach GROUP BY 1)
      |SELECT CAST(v AS BIGINT) AS c_custkey,
      |       CAST(canon AS BIGINT) AS canonical_id,
      |       CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS cluster_size
      |FROM lab""".stripMargin) { (s, d) =>
    val root = graft.pipeline.TempDirs.scoped("graft_erops_")
    val dir = root + "/er"
    val c = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"), col("c_nationkey"))
    // one file per custkey slice: upserts of the slice + forgets of
    // the slice's % 40 records — every forget targets a SAME-trigger
    // arrival, and slice disjointness makes any file order converge
    (0 until 3).foreach { i =>
      val slice = c.filter(col("c_custkey") % 3 === i)
      slice.select(lit("upsert").as("op"), col("c_custkey"), col("c_name"),
          col("c_nationkey"))
        .unionByName(slice.filter(col("c_custkey") % 40 === 0)
          .select(lit("forget").as("op"), col("c_custkey"),
            lit(null).cast("string").as("c_name"),
            lit(null).cast("long").as("c_nationkey")))
        .repartition(1).write.mode("append").parquet(s"$root/ops")
    }
    val q = s.readStream
      .schema("op STRING, c_custkey LONG, c_name STRING, c_nationkey LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$root/ops")
      .writeStream.foreachBatch(graft.streaming.Events.erOpsGateBatch(dir) _)
      .option("checkpointLocation", s"$root/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.IncrementalEr.resolved(s, dir)
  }

  /** q276 — ER TIME TRAVEL under the hash gate: customers fold in 3
    * custkey-modulo batches, the label history is then COMPACTED
    * (snapshot at id 3), and the query serves the assignment AS OF
    * commit 1 through [[graft.operators.IncrementalEr.resolvedAsOf]]
    * — a partition filter over the commit sequence, reading BELOW the
    * later snapshot floor. The oracle resolves `c_custkey % 3 <= 1`
    * from scratch (exactly the records committed by batches 0-1), so
    * the hash gate proves as-of-fold ≡ prefix-fold: time travel
    * reconstructs the old version bit-for-bit, not approximately. */
  val q276 = Q("q276_er_time_travel",
    """WITH RECURSIVE c AS (
      |  SELECT c_custkey, c_name, c_nationkey FROM customer
      |  WHERE c_custkey % 3 <= 1),
      |e0 AS (
      |  SELECT a.c_custkey AS ea, b.c_custkey AS eb
      |  FROM c a JOIN c b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |edges AS (SELECT ea, eb FROM e0 UNION SELECT eb, ea FROM e0),
      |reach(v, u) AS (
      |  SELECT c_custkey, c_custkey FROM c
      |  UNION
      |  SELECT r.v, e.eb FROM reach r JOIN edges e ON r.u = e.ea),
      |lab AS (SELECT v, MIN(u) AS canon FROM reach GROUP BY 1)
      |SELECT CAST(v AS BIGINT) AS c_custkey,
      |       CAST(canon AS BIGINT) AS canonical_id,
      |       CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS cluster_size
      |FROM lab""".stripMargin) { (s, d) =>
    val dir = graft.pipeline.TempDirs.scoped("graft_erasofq_") + "/er"
    val c = Tables.customer(s, d)
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_name"), col("c_nationkey"))
    (0 until 3).foreach { b =>
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(col("c_custkey") % 3 === b), b.toLong)
    }
    graft.operators.IncrementalEr.compact(s, dir, 3L)
    graft.operators.IncrementalEr.resolvedAsOf(s, dir, 1L)
  }

  /** q277 — the COMPACTED index under the full maintain + forget gate:
    * two arrival batches, then [[graft.operators.IncrementalEr
    * .compactBase]] folds base + variants into a RE-BUCKETED snapshot
    * generation (`targetRowsPerBucket` sizes B' to the live rows — the
    * bucket-size-constant growth law), then a THIRD batch probes
    * through the mixed snapshot/delta tiers (disjunctive-modulus
    * pruning) and a forget rewrites partitions across BOTH tiers. The
    * oracle is q262's from-scratch resolution of the survivors
    * verbatim — compaction and re-bucketing must be invisible to every
    * subsequent maintenance op, under the hash, not just in a spec. */
  val q277 = Q("q277_er_compacted_forget", q262.oracle.get) { (s, d) =>
    val dir = graft.pipeline.TempDirs.scoped("graft_ercbq_") + "/er"
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    (0 until 2).foreach { b =>
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === b), b.toLong)
    }
    graft.operators.IncrementalEr.compactBase(s, dir, 2L,
      targetRowsPerBucket = Some(2048L))
    graft.operators.IncrementalEr.vacuumBase(s, dir)
    graft.operators.IncrementalEr.maintainBatch(dir)(
      c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === 2), 3L)
    graft.operators.IncrementalEr.forget(s, dir,
      c.filter(col("c_custkey") % 50 === 0).select("c_custkey"), 4L)
    graft.operators.IncrementalEr.resolved(s, dir)
  }

  val all: Seq[Q] = Seq(q189, q190, q191, q192, q193, q194, q195, q196,
    q197, q198, q199, q200, q201, q202, q203, q204, q205, q206, q207, q208,
    q209, q210, q211, q212, q213, q214, q215, q216, q217, q218, q224, q228,
    q235, q238, q239, q261, q262, q272, q273, q274, q275, q276, q277)
}
