package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Cols, Tables}
import graft.operators.{Scd2, TopKByWeight}
import graft.pipeline.TempDirs

/** Window-function battery, pivot, percentiles and the typed top-k
  * aggregate — the analytic surface beyond the reference's own usage
  * (SURVEY §2.6 notes the reference has none in Spark code; the BI
  * layer implies them). */
object WindowQueries {

  /** q36 — ranking-function battery over supplier account balances
    * within nation: rank / dense_rank / lead / lag / ntile, all with
    * the same deterministic ordering. */
  val q36 = Q("q36_window_battery",
    """SELECT s_suppkey, s_nationkey,
      |       rank() OVER w AS rnk,
      |       dense_rank() OVER w AS drnk,
      |       row_number() OVER w AS rn,
      |       ntile(4) OVER w AS quartile,
      |       lag(s_suppkey) OVER w AS prev_supp,
      |       lead(s_suppkey) OVER w AS next_supp
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("s_nationkey").orderBy(col("s_acctbal").desc, col("s_suppkey"))
    Tables.supplier(s, d).select(
      col("s_suppkey"), col("s_nationkey"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      row_number().over(w).as("rn"),
      ntile(4).over(w).as("quartile"),
      lag(col("s_suppkey"), 1).over(w).as("prev_supp"),
      lead(col("s_suppkey"), 1).over(w).as("next_supp"))
  }

  /** q37 — pivot: event counts per user spread across event-type
    * columns. The oracle uses conditional aggregation (the portable
    * spelling of PIVOT). */
  val q37 = Q("q37_pivot",
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L) // pivot yields null for absent cells; FILTER yields 0
  }

  /** q38 — exact percentiles (median / p90) of order totals per status.
    * Spark `percentile` and DuckDB `quantile_cont` both use linear
    * interpolation over the sorted set — identical operands, identical
    * doubles. The 100 TB variant is `approx_percentile` (bounded-memory
    * sketch), exposed in q39's rows-only entry alongside. */
  val q38 = Q("q38_percentiles",
    """SELECT o_orderstatus,
      |       quantile_cont(o_totalprice, 0.5) AS median_price,
      |       quantile_cont(o_totalprice, 0.9) AS p90_price,
      |       COUNT(*) AS n
      |FROM orders GROUP BY o_orderstatus""".stripMargin) { (s, d) =>
    Tables.orders(s, d).groupBy("o_orderstatus")
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("median_price"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90_price"),
        count(lit(1)).as("n"))
  }

  /** q39 — the typed TopKByWeight Aggregator (O(k) buffer per group)
    * exploded to rows. The aggregator's total order is (weight desc,
    * id asc) with duplicates retained, which is exactly row_number over
    * (ORDER BY weight DESC, id) — so the typed custom aggregate sits
    * under the DuckDB oracle despite having no SQL twin of its own. */
  val q39 = Q("q39_topk_aggregator",
    """SELECT l_returnflag, rank, l_partkey FROM (
      |  SELECT l_returnflag, l_partkey,
      |         CAST(row_number() OVER (PARTITION BY l_returnflag
      |              ORDER BY l_extendedprice DESC, l_partkey) AS INT) AS rank
      |  FROM lineitem) WHERE rank <= 10""".stripMargin) { (s, d) =>
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_partkey"), col("l_extendedprice"))
      .as[(String, Long, Double)]
    li.groupByKey(_._1)
      .mapValues { case (_, id, w) => (id, w) }
      .agg(new TopKByWeight(10).toColumn.name("topk"))
      .toDF("l_returnflag", "topk")
      .select(col("l_returnflag"), posexplode(col("topk")))
      .select(col("l_returnflag"), (col("pos") + 1).as("rank"), col("col").as("l_partkey"))
  }

  /** q40 — tumbling event-time window aggregate (batch twin of the
    * watermarked streaming form, Events.windowedCounts): hourly event
    * counts and exact value sums. Window starts land on whole hours, so
    * the ns-vs-µs timestamp gap can't bite; the oracle's time_bucket
    * over the ns timestamps yields the same boundaries. */
  val q40 = Q("q40_tumbling_window",
    """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
      |       event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .withColumn("ts_t", Cols.nanosToTimestamp(col("ts")))
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Cols.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  /** q82 — approximate percentiles: the sketch tier of q38
    * (t-digest-style `approx_percentile`, mergeable partial state — at
    * 100 TB the exact `percentile` materializes every value per group
    * while the sketch is O(1/accuracy) per partition). Estimator
    * internals are engine-specific ⇒ rows-only, like HLL (q30) and CMS
    * (q77); `WindowQueries`' exact q38 is the oracle-gated twin and the
    * spec pins the estimates against it. */
  val q82 = Q.noOracle("q82_approx_percentiles") { (s, d) =>
    Tables.orders(s, d).groupBy("o_orderstatus")
      .agg(
        approx_percentile(col("o_totalprice"), lit(0.5), lit(10000)).as("median_est"),
        approx_percentile(col("o_totalprice"), lit(0.9), lit(10000)).as("p90_est"),
        count(lit(1)).as("n"))
  }

  /** q133 — hourly volume anomaly flags per event type
    * ([[graft.operators.Anomaly.hourlyCountAnomalies]]): the ingest
    * monitor that catches upstream outages and replay storms. z² > 9
    * over a trailing 24-observed-hour baseline, evaluated as the exact
    * integer inequality (c·n−s)² > 9·(n·q−s²) — no float mean/std, so
    * flags AND counts sit under the value gate. Hours are epoch-hours
    * (ts is epoch-nanos after `Tables.events`; the oracle divides
    * epoch-µs by 3.6e9 — same integers). */
  val q133 = Q("q133_count_anomalies",
    """WITH c AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
      |         COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, hour, n_events,
      |         CAST(SUM(n_events) OVER fr AS BIGINT) AS s,
      |         CAST(SUM(n_events * n_events) OVER fr AS BIGINT) AS q,
      |         COUNT(*) OVER fr AS n_prior
      |  FROM c
      |  WINDOW fr AS (PARTITION BY event_type ORDER BY hour
      |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, hour, n_events,
      |       (n_events * 24 - s) * (n_events * 24 - s) > 9 * (q * 24 - s * s) AS anomaly
      |FROM w WHERE n_prior = 24""".stripMargin) { (s, d) =>
    graft.operators.Anomaly.hourlyCountAnomalies(
      Tables.events(s, d), "event_type", "ts", window = 24, zThreshold = 3)
  }

  /** q143 — distribution-DRIFT flags between corpus snapshots
    * ([[graft.operators.Anomaly.proportionDriftFlags]]): the
    * pre-training-snapshot check "did the language mix move?", as the
    * pooled two-proportion z-test in exact int64 algebra (q133's
    * discipline — (c₁n₂−c₂n₁)²·N > T²·c·(N−c)·n₁n₂, no float
    * mean/variance under the gate). The corpus is one static fixture,
    * so snapshot B is INJECTED deterministically (the q121/q74
    * discipline): an upstream "langid upgrade" relabels every fr doc
    * en — both engines construct the same A∪B input, and the gate's
    * flag set is non-vacuous (en and fr flag at sf0.01; the untouched
    * languages must NOT flag). Group scope is the whole corpus here —
    * the per-(source) granularity is the operator's normal mode and is
    * spec-exercised; at 25 docs/source the fixture has no power at
    * z=3, which is itself the correct statistical answer. */
  val q143 = Q("q143_distribution_drift",
    """WITH snap AS (
      |  SELECT 'corpus' AS scope, lang, TRUE AS in_a FROM documents
      |  UNION ALL
      |  SELECT 'corpus' AS scope,
      |         CASE WHEN lang = 'fr' THEN 'en' ELSE lang END AS lang,
      |         FALSE AS in_a
      |  FROM documents),
      |cells AS (
      |  SELECT scope, lang,
      |         CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |         CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
      |  FROM snap GROUP BY 1, 2),
      |tot AS (
      |  SELECT scope, CAST(SUM(c_a) AS BIGINT) AS n_a,
      |         CAST(SUM(c_b) AS BIGINT) AS n_b
      |  FROM cells GROUP BY 1)
      |SELECT c.scope, c.lang, c.c_a, t.n_a, c.c_b, t.n_b,
      |       (c.c_a * t.n_b - c.c_b * t.n_a) * (c.c_a * t.n_b - c.c_b * t.n_a)
      |         * (t.n_a + t.n_b)
      |         > 9 * (c.c_a + c.c_b) * (t.n_a + t.n_b - c.c_a - c.c_b)
      |             * t.n_a * t.n_b AS drift
      |FROM cells c JOIN tot t USING (scope)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val a = docs.select(lit("corpus").as("scope"), col("lang"),
      lit(true).as("in_a"))
    val b = docs.select(lit("corpus").as("scope"),
      when(col("lang") === "fr", "en").otherwise(col("lang")).as("lang"),
      lit(false).as("in_a"))
    graft.operators.Anomaly.proportionDriftFlags(
      a.unionByName(b), "scope", "lang", col("in_a"), zThreshold = 3)
  }

  /** q150 — ordered conversion FUNNEL over sessionized events
    * ([[graft.operators.Funnel]]): of q29's gap-30-min sessions, how
    * many contain view → click → purchase IN ORDER (each stage
    * strictly after the event completing the previous one)? The
    * e-commerce dashboard table one step past the reference's top-20
    * rollups. Stage 1 is one keyed integer aggregate; each later
    * stage equi-joins a type-filtered slice against the shrinking
    * previous frontier on the session key — no windows beyond the
    * sessionizer's own, exact event_id ordering end-to-end. */
  val q150 = Q("q150_funnel",
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type,
      |         CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts))
      |                     OVER (PARTITION BY user_id ORDER BY event_id)
      |                   > 1800000000000 THEN 1 ELSE 0 END AS is_new
      |  FROM events),
      |sess AS (
      |  SELECT user_id, event_id, event_type,
      |         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
      |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged),
      |s1 AS (SELECT user_id, session_id, MIN(event_id) AS f FROM sess
      |       WHERE event_type = 'view' GROUP BY 1, 2),
      |s2 AS (SELECT e.user_id, e.session_id, MIN(e.event_id) AS f
      |       FROM sess e JOIN s1 ON e.user_id = s1.user_id
      |                          AND e.session_id = s1.session_id
      |       WHERE e.event_type = 'click' AND e.event_id > s1.f GROUP BY 1, 2),
      |s3 AS (SELECT e.user_id, e.session_id, MIN(e.event_id) AS f
      |       FROM sess e JOIN s2 ON e.user_id = s2.user_id
      |                          AND e.session_id = s2.session_id
      |       WHERE e.event_type = 'purchase' AND e.event_id > s2.f GROUP BY 1, 2)
      |SELECT CAST(1 AS BIGINT) AS stage, COUNT(*) AS n_keys FROM s1
      |UNION ALL SELECT CAST(2 AS BIGINT), COUNT(*) FROM s2
      |UNION ALL SELECT CAST(3 AS BIGINT), COUNT(*) FROM s3""".stripMargin) {
    (s, d) =>
      // NOT persisted: a registered query has no unpersist hook, and a
      // leaked cache block would squat executor memory for the rest of
      // a 160-query Verify session. stageCounts' unioned prefix-chains
      // re-derive the sessionizer a TRIANGULAR 6 times for 3 stages
      // (Funnel's plan-reuse contract), not 3 — sub-second here; a
      // production caller owning the lifecycle persists first.
      val sess = graft.operators.Sessionize.assignSessions(
        Tables.events(s, d).select("user_id", "event_id", "ts", "event_type"),
        "user_id", "event_id", "ts", gap = 1800000000000L)
      graft.operators.Funnel.stageCounts(sess, Seq("user_id", "session_id"),
        "event_id", "event_type", Seq("view", "click", "purchase"))
  }

  /** q167 — RETENTION COHORT matrix over the event stream: cohort =
    * each user's first active week (integer epoch-week — exact int64
    * `div`, no calendar/TZ seam), cell (cohort, offset) = distinct
    * users from that cohort active `offset` weeks later. THE
    * companion table to q150's funnel on every e-commerce dashboard.
    * Shape: one distinct on (user, week) — map-side combined — one
    * min-aggregate for cohorts, one equi-join back on user_id, one
    * count; at 100 TB every step shuffles user-week rows, never raw
    * events. */
  val q167 = Q("q167_retention_cohorts",
    """WITH uw AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS wk
      |  FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort FROM uw GROUP BY 1)
      |SELECT c.cohort AS cohort_week,
      |       CAST(uw.wk - c.cohort AS INT) AS week_offset,
      |       COUNT(*) AS n_users
      |FROM uw JOIN c ON uw.user_id = c.user_id
      |GROUP BY 1, 2""".stripMargin) { (s, d) =>
    graft.operators.Retention.cohortMatrix(
      Tables.events(s, d)
        .select(col("user_id"), expr("ts div 604800000000000").as("wk"))
        .distinct())
  }

  /** q168 — RFM SEGMENTATION over orders ([[graft.operators.Quantiles
    * .cutPoints]]): recency (last order date as integer yyyymmdd —
    * calendar parts are TZ-free on both engines), frequency (order
    * count) and monetary (sum of exact integer cents:
    * ⌊price·100 + 0.5⌋ per order, summed as int64 — a double SUM
    * would be addition-order-nondeterministic) each cut into VALUE-
    * BASED quintiles by the inf-CDF boundary rule — equal metric
    * values always share a segment, the property `ntile` lacks and
    * the reason this sits under the hash gate with no row-order
    * tiebreak. Assignment is a map-only comparison against three
    * broadcast one-row cut tables; the only shuffles are the
    * per-customer aggregate and three histogram folds. Quintile 5 =
    * highest value of the raw metric (latest date, most orders, most
    * spend). */
  val q168 = Q("q168_rfm_segments",
    """WITH cust AS (
      |  SELECT o_custkey,
      |         MAX(year(o_orderdate)*10000 + month(o_orderdate)*100
      |             + day(o_orderdate)) AS r_last,
      |         COUNT(*) AS f_orders,
      |         CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)) AS BIGINT) AS m_cents
      |  FROM orders GROUP BY 1),
      |rcum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc, SUM(c) OVER () AS n
      |         FROM (SELECT r_last AS v, COUNT(*) AS c FROM cust GROUP BY 1)),
      |rcuts AS (SELECT min(CASE WHEN cc*5 >= n*1 THEN v END) AS b1,
      |                 min(CASE WHEN cc*5 >= n*2 THEN v END) AS b2,
      |                 min(CASE WHEN cc*5 >= n*3 THEN v END) AS b3,
      |                 min(CASE WHEN cc*5 >= n*4 THEN v END) AS b4 FROM rcum),
      |fcum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc, SUM(c) OVER () AS n
      |         FROM (SELECT f_orders AS v, COUNT(*) AS c FROM cust GROUP BY 1)),
      |fcuts AS (SELECT min(CASE WHEN cc*5 >= n*1 THEN v END) AS b1,
      |                 min(CASE WHEN cc*5 >= n*2 THEN v END) AS b2,
      |                 min(CASE WHEN cc*5 >= n*3 THEN v END) AS b3,
      |                 min(CASE WHEN cc*5 >= n*4 THEN v END) AS b4 FROM fcum),
      |mcum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cc, SUM(c) OVER () AS n
      |         FROM (SELECT m_cents AS v, COUNT(*) AS c FROM cust GROUP BY 1)),
      |mcuts AS (SELECT min(CASE WHEN cc*5 >= n*1 THEN v END) AS b1,
      |                 min(CASE WHEN cc*5 >= n*2 THEN v END) AS b2,
      |                 min(CASE WHEN cc*5 >= n*3 THEN v END) AS b3,
      |                 min(CASE WHEN cc*5 >= n*4 THEN v END) AS b4 FROM mcum),
      |seg AS (
      |  SELECT o_custkey,
      |    CAST(1 + (r_last > r.b1)::INT + (r_last > r.b2)::INT
      |           + (r_last > r.b3)::INT + (r_last > r.b4)::INT AS INT) AS r_q,
      |    CAST(1 + (f_orders > f.b1)::INT + (f_orders > f.b2)::INT
      |           + (f_orders > f.b3)::INT + (f_orders > f.b4)::INT AS INT) AS f_q,
      |    CAST(1 + (m_cents > m.b1)::INT + (m_cents > m.b2)::INT
      |           + (m_cents > m.b3)::INT + (m_cents > m.b4)::INT AS INT) AS m_q
      |  FROM cust, rcuts r, fcuts f, mcuts m)
      |SELECT o_custkey, r_q, f_q, m_q,
      |       CAST(r_q*100 + f_q*10 + m_q AS INT) AS rfm_code
      |FROM seg""".stripMargin) { (s, d) =>
    import graft.operators.Quantiles
    val cust = Tables.orders(s, d).groupBy(col("o_custkey")).agg(
      max(year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100
        + dayofmonth(col("o_orderdate"))).as("r_last"),
      count(lit(1)).as("f_orders"),
      sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("m_cents"))
    def cutsOf(c: String, as: String) =
      broadcast(Quantiles.cutPoints(cust, c, 5).select(col("cuts").as(as)))
    def seg(v: String, cuts: String) =
      (lit(1) +: (1 to 4).map(i =>
        when(col(v) > element_at(col(cuts), i), 1).otherwise(0))).reduce(_ + _)
    cust.crossJoin(cutsOf("r_last", "rc"))
      .crossJoin(cutsOf("f_orders", "fc"))
      .crossJoin(cutsOf("m_cents", "mc"))
      .select(col("o_custkey"),
        seg("r_last", "rc").as("r_q"),
        seg("f_orders", "fc").as("f_q"),
        seg("m_cents", "mc").as("m_q"))
      .withColumn("rfm_code", col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
  }

  /** q169 — MARKET-BASKET lift (the A-Priori candidate step, the
    * third dashboard table next to q150/q167): co-occurring part
    * pairs within an order, kept at support ≥ 2, scored by lift =
    * n·c(ab)/(c(a)·c(b)). The pair join is a self-equi-join on the
    * ORDER key, so pair mass is Σ basket² — bounded by the max basket
    * size (13 here, single digits in any real cart), i.e. LINEAR in
    * lineitems at any corpus size; the support cut happens after a
    * map-side-combined count, never on raw pairs. All counts are
    * int64; `lift` is ONE IEEE division of two exactly-representable
    * integer products (the q137 emitted-double rule), so the whole
    * table sits under the hash gate. */
  val q169 = Q("q169_basket_lift",
    """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT o) AS n FROM li),
      |item AS (SELECT p, COUNT(*) AS c_item FROM li GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS c_ab
      |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT part_a, part_b, c_ab, ia.c_item AS c_a, ib.c_item AS c_b,
      |       CAST(c_ab * n.n AS DOUBLE) / CAST(ia.c_item * ib.c_item AS DOUBLE) AS lift
      |FROM pairs
      |JOIN item ia ON ia.p = part_a
      |JOIN item ib ON ib.p = part_b
      |CROSS JOIN n""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val n = li.select("o").distinct().count() // one scalar (watermark-probe class)
    val item = li.groupBy(col("p")).agg(count(lit(1)).as("c_item"))
    val pairs = li.select(col("o"), col("p").as("part_a"))
      .join(li.select(col("o"), col("p").as("part_b")), Seq("o"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 2)
    pairs
      .join(item.select(col("p").as("part_a"), col("c_item").as("c_a")), Seq("part_a"))
      .join(item.select(col("p").as("part_b"), col("c_item").as("c_b")), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab") * n).cast("double") / (col("c_a") * col("c_b")).cast("double"))
          .as("lift"))
  }

  /** q170 — DAU / WAU / stickiness per day. The trailing-7-day
    * distinct-user count is NOT a range join (which Spark plans as a
    * broadcast-nested-loop at scale) and NOT a window COUNT DISTINCT
    * (unsupported): each user-day SUPPORTS the next 7 calendar days,
    * so explode it into them (`sequence(day, day+6)` — a map-only ×7
    * fan-out of the already-deduped user-day relation), dedupe
    * (user, supported-day), and count — shuffles carry user-day rows
    * only, never events. Days with no activity emit no row (a
    * dashboard renders the gap); `stickiness` = dau/wau is one IEEE
    * division of two int64s (the q137 emitted-double rule). Day =
    * integer epoch-day from the int64 nanos `ts` — no calendar/TZ
    * seam. */
  val q170 = Q("q170_dau_wau_stickiness",
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
      |sup AS (
      |  SELECT DISTINCT user_id, day + o AS day
      |  FROM ud, unnest(range(0, 7)) AS u(o)),
      |wau AS (SELECT day, COUNT(*) AS wau FROM sup GROUP BY 1)
      |SELECT d.day, d.dau, w.wau,
      |       CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
      |FROM dau d JOIN wau w ON d.day = w.day""".stripMargin) { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /** q171 — per-customer INTER-PURCHASE interval median (the repeat-
    * purchase cadence behind replenishment and churn-risk models):
    * consecutive order gaps in integer calendar days (lag over a
    * per-customer window ordered by (day, orderkey) — same-day orders
    * contribute deterministic 0-gaps), median by the exact inf-CDF
    * rule via [[graft.operators.Quantiles.groupThresholds]] at
    * 1/2 — no interpolated `percentile`, no float rank, so every
    * median hash-gates. Shape: one shuffle on the customer key for
    * the window, then the histogram fold — gaps collapse to
    * (customer, gap) cells before any rank arithmetic. */
  val q171 = Q("q171_interpurchase_median",
    """WITH d AS (
      |  SELECT o_custkey, o_orderkey,
      |         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
      |  FROM orders),
      |g AS (
      |  SELECT o_custkey,
      |         day - lag(day) OVER (PARTITION BY o_custkey
      |                              ORDER BY day, o_orderkey) AS gap
      |  FROM d),
      |h AS (SELECT o_custkey, gap, COUNT(*) AS c FROM g
      |      WHERE gap IS NOT NULL GROUP BY 1, 2),
      |cum AS (SELECT o_custkey, gap,
      |               SUM(c) OVER (PARTITION BY o_custkey ORDER BY gap) AS cc,
      |               SUM(c) OVER (PARTITION BY o_custkey) AS n
      |        FROM h)
      |SELECT o_custkey, CAST(MAX(n) AS BIGINT) AS n_gaps,
      |       CAST(MIN(CASE WHEN cc*2 >= n THEN gap END) AS INT) AS median_gap_days
      |FROM cum GROUP BY 1""".stripMargin) { (s, d) =>
    import graft.operators.Quantiles
    val w = Window.partitionBy("o_custkey").orderBy(col("day"), col("o_orderkey"))
    val gaps = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")),
          lit(java.sql.Date.valueOf("1992-01-01"))).as("day"))
      .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
      .filter(col("gap").isNotNull)
    Quantiles.groupThresholds(gaps, "o_custkey", "gap", 1, 2, 1, 2)
      .select(col("o_custkey"), col("n").as("n_gaps"),
        col("lo").as("median_gap_days"))
  }

  /** q175 — SCD TYPE-2 dimension build (run-length compression of a
    * change log into validity intervals): per user, consecutive runs
    * of the same `event_type` collapse to one row with
    * [valid_from, valid_to) in epoch-nanos, `valid_to` null on the
    * open (current) interval. The classic lakehouse pattern for
    * "what was the dimension value at time t" — q176 serves that
    * lookup off this table. Shape: ONE shuffle on the user key
    * (both windows and the run group-by share the same partitioning,
    * so Catalyst reuses the exchange), change detection and the
    * running run-counter are per-partition streaming window evals —
    * at 100 TB this is a single pass per key, never a self-join.
    * Determinism: the per-user total order is (ts, event_id)
    * (event_id unique), and `min(event_type)` inside a run is exact
    * because a run is constant-valued by construction. */
  val q175 = Q("q175_scd2_build",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events),
      |chg AS (
      |  SELECT user_id, event_id, event_type, t,
      |         CASE WHEN lag(event_type) OVER w IS NULL
      |                OR lag(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS c
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |runs AS (
      |  SELECT user_id, event_type, t,
      |         CAST(SUM(c) OVER (PARTITION BY user_id
      |                           ORDER BY t, event_id) AS BIGINT) AS run
      |  FROM chg),
      |iv AS (
      |  SELECT user_id, run,
      |         MIN(event_type) AS state, MIN(t) AS valid_from
      |  FROM runs GROUP BY 1, 2)
      |SELECT user_id, run, state, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
      |         AS valid_to
      |FROM iv""".stripMargin) { (s, d) =>
    Scd2.build(Tables.events(s, d), "user_id", "ts", "event_id", "event_type")
  }

  /** q176 — POINT-IN-TIME enrichment off the q175-style SCD2 table:
    * a "status" dimension is built from the signup/error events only
    * (SCD2-compressed), then every purchase event is enriched with
    * the user's status AS OF the purchase instant via the composed
    * as-of join (q48's operator) — purchases before any status event
    * carry null. This is the end-to-end SCD2 story: build (q175
    * operator) + serve (as-of lookup), the pattern every
    * slowly-changing dimension pipeline runs at 100 TB. Shape: the
    * SCD2 build is one shuffle on the user key; the as-of join is one
    * more (union + keyed window) — no range join, no per-event probe.
    * Oracle: DuckDB's native ASOF LEFT JOIN against the same
    * window-built interval table. */
  val q176 = Q("q176_scd2_enrich",
    """WITH se AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS t
      |  FROM events WHERE event_type IN ('signup', 'error')),
      |chg AS (
      |  SELECT user_id, event_id, event_type, t,
      |         CASE WHEN lag(event_type) OVER w IS NULL
      |                OR lag(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS c
      |  FROM se WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      |runs AS (
      |  SELECT user_id, event_type, t,
      |         SUM(c) OVER (PARTITION BY user_id
      |                      ORDER BY t, event_id) AS run
      |  FROM chg),
      |scd AS (
      |  SELECT user_id, MIN(event_type) AS status, MIN(t) AS valid_from
      |  FROM runs GROUP BY user_id, run),
      |p AS (
      |  SELECT event_id, user_id, epoch_ns(ts) AS t
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, scd.status
      |FROM p ASOF LEFT JOIN scd
      |  ON p.user_id = scd.user_id AND p.t >= scd.valid_from""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val scd = Scd2.build(
      ev.filter(col("event_type").isin("signup", "error")),
      "user_id", "ts", "event_id", "event_type")
      .select(col("user_id"), col("valid_from"), col("state").as("status"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.Relational
      .asOfJoin(purchases, "ts", scd, "valid_from", "user_id", Seq("status"))
      .select("event_id", "user_id", "status")
  }

  /** q181 — INCREMENTAL SCD2 maintenance ([[Scd2.merge]]): the event
    * log is split at the 80%-of-timespan boundary, the base 80% is
    * SCD2-compressed once, and the trailing 20% folds in as an arrival
    * batch — closed intervals are never reprocessed, untouched keys
    * stream through one anti-join, and only the touched keys' OPEN
    * intervals replay through run compression. The oracle is q175's
    * full-rebuild SQL over ALL events, verbatim, so
    * merge(base, delta) ≡ rebuild is itself under the hash gate (the
    * q180/q148 incremental-maintenance discipline applied to the
    * dimension tier). The split boundary comes from a 1-row min/max
    * aggregate broadcast back over the scan — no driver collect, no
    * data-dependent literal in the plan. */
  val q181 = Q("q181_scd2_merge", q175.oracle.get) { (s, d) =>
    val ev = Tables.events(s, d)
      .select("user_id", "ts", "event_id", "event_type")
    val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    val cut = ev.crossJoin(broadcast(bounds))
      .withColumn("__cut", expr("lo + (((hi - lo) * 4) div 5)"))
      .drop("lo", "hi")
    val base = Scd2.build(cut.filter(col("ts") < col("__cut")),
      "user_id", "ts", "event_id", "event_type")
    val delta = cut.filter(col("ts") >= col("__cut"))
      .select("user_id", "ts", "event_id", "event_type")
    Scd2.merge(base, delta, "user_id", "ts", "event_id", "event_type")
  }

  /** q182 — SESSION-SCOPED event TRANSITION MATRIX (the first-order
    * Markov counts behind next-action prediction and UX path audits):
    * events sessionize at a 30-minute gap (q150's sessionizer, same
    * gap), then consecutive in-session pairs (from_type → to_type)
    * count corpus-wide. Transitions never cross a session boundary —
    * that's the semantic difference from a naive per-user lag. Shape:
    * the sessionizer and the lead() share ONE shuffle on the user key
    * (same partitioning, Catalyst reuses the exchange); the count is
    * a 25-cell map-side-combined aggregate. Per-user order is
    * event_id (ts-consistent in this log; the sessionizer pins that
    * convention at q150). */
  val q182 = Q("q182_transition_matrix",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events),
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
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id, sid
      |                                ORDER BY event_id) AS to_type
      |  FROM sess)
      |SELECT from_type, to_type, COUNT(*) AS n_transitions
      |FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin) { (s, d) =>
    val sess = graft.operators.Sessionize.assignSessions(
      Tables.events(s, d).select("user_id", "event_id", "ts", "event_type"),
      "user_id", "event_id", "ts", gap = 1800000000000L)
    val w = Window.partitionBy("user_id", "session_id").orderBy("event_id")
    sess.withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** q183 — per-user FEATURE-STORE table (the wide aggregate every
    * churn/LTV model trains on): event-type counts as conditional
    * aggregates (the pivot shape without a pivot — 5 fixed columns,
    * one pass), first/last activity, distinct active days (exact,
    * integer epoch-day), joined to order count and decimal-exact
    * total spend. Shape: ONE groupBy over events + ONE over orders +
    * one equi-join on the user key — at 100 TB the whole feature
    * table is two shuffles, and every conditional count is map-side
    * combined. Spend goes through the decimal-sum rule (`Cols.dsum`)
    * so the double column hash-gates; users with no orders carry
    * 0 / null, not a dropped row (left join — a feature store never
    * silently loses an entity). */
  val q183 = Q("q183_user_features",
    """WITH ef AS (
      |  SELECT user_id,
      |         COUNT(*) FILTER (event_type = 'view') AS n_views,
      |         COUNT(*) FILTER (event_type = 'click') AS n_clicks,
      |         COUNT(*) FILTER (event_type = 'purchase') AS n_purchases,
      |         COUNT(*) FILTER (event_type = 'error') AS n_errors,
      |         COUNT(*) FILTER (event_type = 'signup') AS n_signups,
      |         MIN(epoch_ns(ts)) AS first_ts, MAX(epoch_ns(ts)) AS last_ts,
      |         COUNT(DISTINCT epoch_ns(ts) // 86400000000000) AS active_days
      |  FROM events GROUP BY 1),
      |of AS (
      |  SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |  FROM orders GROUP BY 1)
      |SELECT ef.*, COALESCE(of.n_orders, 0) AS n_orders, of.total_spend
      |FROM ef LEFT JOIN of ON of.user_id = ef.user_id""".stripMargin) { (s, d) =>
    def typeCount(t: String, as: String) =
      count(when(col("event_type") === t, 1)).as(as)
    val ef = Tables.events(s, d).groupBy("user_id").agg(
      typeCount("view", "n_views"), typeCount("click", "n_clicks"),
      typeCount("purchase", "n_purchases"), typeCount("error", "n_errors"),
      typeCount("signup", "n_signups"),
      min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
      countDistinct(expr("ts div 86400000000000")).as("active_days"))
    val of = Tables.orders(s, d).groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"), Cols.dsum(col("o_totalprice")).as("total_spend"))
    ef.join(of, Seq("user_id"), "left")
      .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
  }

  /** q184 — ITEM-ITEM collaborative filtering (the "customers who
    * bought X also bought" table): top-5 neighbors per part by
    * co-purchase COSINE c_ab / √(c_a·c_b) over distinct order
    * baskets. q169 scores pair association (lift); this turns the
    * same counts into a per-item ranked neighbor list — the serving
    * shape a recommender reads. Determinism of the float: the int64
    * counts convert exactly (< 2⁵³), the product is exact, and IEEE
    * √ and ÷ are correctly rounded on both engines, so the cosine —
    * and the (cosine DESC, neighbor) row_number — hash-gate
    * bit-identically. Shape: one distinct, one self-join on the order
    * key (baskets are small — the join fans out C(k,2) per order,
    * never n²), one pair count, one per-item window for the top-5. */
  val q184 = Q("q184_item_cf_topk",
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |ic AS (SELECT p, COUNT(*) AS c FROM op GROUP BY 1),
      |pairs AS (SELECT a.p AS pa, b.p AS pb, COUNT(*) AS cab
      |          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sym AS (SELECT pa AS x, pb AS y, cab FROM pairs
      |        UNION ALL SELECT pb, pa, cab FROM pairs),
      |sc AS (SELECT x, y, cab,
      |              CAST(cab AS DOUBLE) /
      |                sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS cosine
      |       FROM sym JOIN ic ca ON ca.p = sym.x JOIN ic cb ON cb.p = sym.y),
      |r AS (SELECT x, y, cab, cosine,
      |             row_number() OVER (PARTITION BY x
      |                                ORDER BY cosine DESC, y) AS rn
      |      FROM sc)
      |SELECT x AS part, y AS neighbor, cab AS co_count, cosine, rn AS rank
      |FROM r WHERE rn <= 5""".stripMargin) { (s, d) =>
    // spill-and-release: ic and pairs both re-reference the basket
    // distinct (and pairs twice more through sym) — cache it for the
    // two builds, land both derived tables, release the cache
    val (ic, pairs) = TempDirs.staged { st =>
      val op = st.cache(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct())
      (TempDirs.spillParquet(
        op.groupBy("p").agg(count(lit(1)).as("c")), "graft_cf_ic_"),
        TempDirs.spillParquet(
          op.select(col("o"), col("p").as("pa"))
            .join(op.select(col("o"), col("p").as("pb")), Seq("o"))
            .filter(col("pa") < col("pb"))
            .groupBy("pa", "pb").agg(count(lit(1)).as("cab"))
            .filter(col("cab") >= 2), "graft_cf_pairs_"))
    }
    val sym = pairs.select(col("pa").as("x"), col("pb").as("y"), col("cab"))
      .unionAll(pairs.select(col("pb").as("x"), col("pa").as("y"), col("cab")))
    val sc = sym
      .join(ic.select(col("p").as("x"), col("c").as("ca")), Seq("x"))
      .join(ic.select(col("p").as("y"), col("c").as("cb")), Seq("y"))
      .select(col("x"), col("y"), col("cab"),
        (col("cab").cast("double") /
          sqrt(col("ca").cast("double") * col("cb").cast("double"))).as("cosine"))
    val w = Window.partitionBy("x").orderBy(col("cosine").desc, col("y"))
    sc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("x").as("part"), col("y").as("neighbor"),
        col("cab").as("co_count"), col("cosine"), col("rn").as("rank"))
  }

  /** q187 — q176's SCD2 point-in-time lookup through the NATIVE as-of
    * operator (plans.AsOfJoinNative: LogicalPlan + Strategy + SparkPlan
    * via SparkSessionExtensions — the q48/q49 pairing applied to the
    * dimension tier): same oracle, same output, but the lookup runs as
    * one streaming merge pass per partition with O(1) state instead of
    * the composed union+window — the shape you'd pick when the
    * dimension history is large enough that materializing the unioned
    * sort matters. */
  val q187 = Q("q187_scd2_enrich_native", q176.oracle.get) { (s, d) =>
    val ev = Tables.events(s, d)
    val scd = Scd2.build(
      ev.filter(col("event_type").isin("signup", "error")),
      "user_id", "ts", "event_id", "event_type")
      .select(col("user_id"), col("valid_from"), col("state").as("status"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.plans.AsOfJoinNative(purchases, "ts", scd, "valid_from",
      "user_id", Seq("status"))
      .select("event_id", "user_id", "status")
  }

  /** q188 — APRIORI frequent-itemset mining (Agrawal & Srikant,
    * VLDB'94): frequent part TRIPLES (support ≥ 2 baskets) found the
    * Apriori way — L2 = frequent pairs first, candidate triples
    * generated ONLY from two frequent pairs sharing their first item
    * and closed by a third frequent pair (the monotonicity prune:
    * every sub-itemset of a frequent itemset is frequent, so the
    * prune is LOSSLESS and the oracle can be the direct 3-way basket
    * self-join), then support counted candidate-first — the basket
    * joins fan out only for orders containing a candidate's items,
    * never enumerating all C(k,3) triples per basket. At 100 TB this
    * is the difference between |candidates|-bounded work and a
    * combinatorial basket explosion. L2 and the baskets are staged to
    * parquet and the cache released (the module spill discipline). */
  val q188 = Q("q188_apriori_triples",
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |tri AS (SELECT a.p AS part_a, b.p AS part_b, c.p AS part_c,
      |               COUNT(*) AS support
      |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      |        JOIN op c ON a.o = c.o AND b.p < c.p
      |        GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
      |SELECT part_a, part_b, part_c, support FROM tri""".stripMargin) { (s, d) =>
    val (op, l2) = TempDirs.staged { st =>
      val op = TempDirs.spillParquet(st.cache(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()),
        "graft_apriori_op_")
      (op, TempDirs.spillParquet(
        op.select(col("o"), col("p").as("a"))
          .join(op.select(col("o"), col("p").as("b")), Seq("o"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("sup"))
          .filter(col("sup") >= 2)
          .select("a", "b"), "graft_apriori_l2_"))
    }
    val cand = l2.select(col("a"), col("b"))
      .join(l2.select(col("a"), col("b").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
      .join(l2.select(col("a").as("b"), col("b").as("c")),
        Seq("b", "c"), "left_semi")
    val counted = cand
      .join(op.select(col("o"), col("p").as("a")), Seq("a"))
      .join(op.select(col("o"), col("p").as("b")), Seq("o", "b"))
      .join(op.select(col("o"), col("p").as("c")), Seq("o", "c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
    counted.select(col("a").as("part_a"), col("b").as("part_b"),
      col("c").as("part_c"), col("support"))
  }

  /** q225 — trailing 7-DAY revenue via a RANGE frame (the one window
    * frame type the battery lacked: q36's functions and the cumsum
    * queries all use ROWS frames). RANGE BETWEEN 6 PRECEDING looks at
    * the ORDER-BY *value* domain, so calendar gaps shrink the window —
    * a day whose trailing week has absent days sums fewer than 7 rows,
    * which a ROWS frame cannot express. Scale shape: the corpus-sized
    * work is the per-day hash aggregate (map-side partial, one
    * shuffle); the window then runs over the CALENDAR-BOUNDED daily
    * frame (|distinct days| rows — ~2.5k/decade at any corpus size),
    * the same bounded-domain argument documented at the q197/q212
    * collect sites, so the unpartitioned window is a bounded tail, not
    * a corpus-sized single-partition sort. */
  val q225 = Q("q225_rolling_7day_revenue",
    """WITH daily AS (
      |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_cents
      |  FROM orders GROUP BY 1)
      |SELECT day, day_cents,
      |       CAST(SUM(day_cents) OVER w AS BIGINT) AS rolling_7d_cents,
      |       CAST(COUNT(*) OVER w AS BIGINT) AS days_present
      |FROM daily
      |WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val daily = Tables.orders(s, d)
      .groupBy(unix_date(to_date(col("o_orderdate"))).cast(LongType).as("day"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
        .cast(LongType)).as("day_cents"))
    val w = Window.orderBy(col("day")).rangeBetween(-6, 0)
    daily.select(col("day"), col("day_cents"),
      sum(col("day_cents")).over(w).as("rolling_7d_cents"),
      count(lit(1)).over(w).as("days_present"))
  }

  /** q227 — UNPIVOT (melt): the inverse of q37's pivot, wide event-type
    * count columns back to (user_id, event_type, n) rows — the tidy-up
    * step every feature matrix needs before a long-format join. Built
    * as pivot∘unpivot so the zero-filled cells survive (absent
    * user×type pairs emit n=0 rows, which a bare GROUP BY would drop);
    * the oracle spells that as the users × types cross join. Scale
    * shape: one hash aggregate keyed by user plus a 5-way per-row
    * explode — no new shuffle beyond q37's. */
  val q227 = Q("q227_unpivot_event_matrix",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |t AS (SELECT * FROM (VALUES ('click'),('error'),('purchase'),('signup'),('view')) AS v(event_type)),
      |c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
      |SELECT u.user_id, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      |FROM u CROSS JOIN t
      |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type""".stripMargin) { (s, d) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L)
      .unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
  }

  val all: Seq[Q] = Seq(q36, q37, q38, q39, q40, q82, q133, q143, q150,
    q167, q168, q169, q170, q171, q175, q176, q181, q182, q183, q184,
    q187, q188, q225, q227)
}
