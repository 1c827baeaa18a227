package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by iterative min-label propagation —
  * the final stage of a dedup pipeline: near-dup PAIRS (from LSH /
  * SimHash / exact Jaccard) become CLUSTERS, and each cluster keeps one
  * canonical document (the minimum id, which is exactly the component
  * label this algorithm converges to).
  *
  * Shape per iteration: one equi-join (labels ⋈ edges on the source
  * vertex) + one min-aggregate over the destination vertex — both plain
  * shuffles on vertex ids, partial-aggregated map-side. No collect of
  * edges or labels to the driver; the only driver-side values are one
  * scalar sum per iteration (the convergence probe).
  *
  * Iteration count is bounded by the graph's diameter (each pass moves
  * the component minimum one hop). Near-dup clusters are shallow —
  * template families, mirrors, boilerplate — so a few passes converge.
  * For adversarial long-chain graphs at 100 TB the right upgrade is
  * star-contraction (large-star/small-star, Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14), which converges in
  * O(log n) rounds at the cost of rewriting edges each round; label
  * propagation is the better trade for the shallow graphs dedup emits.
  *
  * `localCheckpoint` after each pass truncates the lineage (the loop
  * would otherwise stack 2·iters shuffle stages into one plan and
  * re-execute prior rounds on every action); on a real cluster with a
  * checkpoint dir configured, reliable `checkpoint` is the durable
  * equivalent.
  */
object Components {

  /** Connected components of the undirected graph (`edges`, `vertices`).
    *
    * @param edges    two-column DataFrame of undirected edges (a, b)
    * @param vertices one-column DataFrame of ALL vertex ids (isolated
    *                 vertices label themselves)
    * @return (v, component) — component = min vertex id reachable
    */
  /** Free the storage blocks of a `localCheckpoint`'ed DataFrame.
    * `Dataset.unpersist` only drops CacheManager entries; localCheckpoint
    * persists the underlying RDD directly, so without this each
    * iteration's MEMORY_AND_DISK blocks would accumulate until the
    * ContextCleaner got around to them — a leak proportional to
    * iteration count on large graphs. The checkpointed plan is a single
    * `LogicalRDD` holding exactly that RDD. */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** `df.localCheckpoint(false)` whose plan's SQL metrics stay
    * reachable for as long as the checkpoint's RDD is. The first job
    * that materializes a lazy checkpoint cuts its lineage when it ends,
    * and with it the driver's last reference to the plan's metrics; a
    * second job already running over the same lineage (two broadcast
    * builds of one relation, the parallel commit writes) still reports
    * updates for them. Once a GC has collected them, the DAGScheduler
    * logs `attempted to access non-existent accumulator` with a stack
    * trace per task and metric, and drops those updates. */
  private[graft] def lazyCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(false)
    val metrics = planMetrics(df)
    checkpointRdd(cp).foreach(metricsOf.put(_, metrics))
    cp
  }

  /** Every SQL metric of `df`'s executed plan, adaptive stages included. */
  private[graft] def planMetrics(df: DataFrame): Seq[AnyRef] =
    PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.metrics.values.toSeq
    }.flatten

  implicit class LazyCheckpoint(private val df: DataFrame) extends AnyVal {
    def lazyCheckpoint(): DataFrame = Components.lazyCheckpoint(df)
  }

  private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** checkpoint RDD → its plan's metrics; an entry lives as long as its RDD */
  private val metricsOf = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], Seq[AnyRef]]())

  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Row cap for the DRIVER union-find fast path: a graph whose
    * MEASURED |V| + |E| is at or below this solves locally in one
    * collect instead of diameter-many distributed rounds (each round
    * is a join + aggregate + checkpoint job — several hundred ms of
    * fixed cost even on a contracted graph of a few thousand rows).
    * Same measured-not-estimated discipline as the broadcast caps:
    * 2 M rows × 16 B ≈ 32 MB collected, bounded driver memory, and
    * anything larger takes the unchanged distributed path. Env
    * override `SPARK_GRAFT_CC_LOCAL_MAX` (0 disables) so cluster
    * deployments can retune without a code change. */
  private[graft] val LocalCcMaxRows: Long =
    LocalGraph.envCap("SPARK_GRAFT_CC_LOCAL_MAX", 1000000L)

  /** Driver union-find over COLLECTED (bounded, measured) edges —
    * min-reachable-id labels, bit-identical to the propagation
    * fixpoint: union-find tracks connectivity, then each root's label
    * is the min member id, which is exactly the label min-propagation
    * converges to. Edges with an endpoint outside `vs` are ignored —
    * the distributed loop only ever propagates labels of seeded
    * vertices, so a path through a non-vertex does not connect (the
    * local path must not either). */
  /** Union-find core over driver arrays: (v, min reachable id) for
    * every v in `vs` — shared by the local CC path below and the
    * incremental-ER contracted-graph fast path (r17). Edges with an
    * endpoint outside `vs` are ignored (the distributed-loop parity
    * contract documented on [[unionFindLocal]]). */
  private[graft] def unionFindPairs(vs: Array[Long],
                                    es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long](vs.length * 2)
    vs.foreach(v => parent.getOrElseUpdate(v, v))
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(if (ra < rb) rb else ra) = math.min(ra, rb)
      }
    }
    // root -> min member id (roots are already component minima here:
    // every union attaches the larger root under the smaller, so the
    // final root of each tree is the minimum vertex id ever unioned
    // into it; seeds start as their own root)
    vs.map(v => (v, find(v)))
  }

  private def unionFindLocal(spark: org.apache.spark.sql.SparkSession,
                             vs: Array[Long],
                             es: Array[(Long, Long)]): DataFrame = {
    val rows = unionFindPairs(vs, es).map { case (v, c) =>
      org.apache.spark.sql.Row(v, c)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          maxIters: Int = 100,
                          localMaxRows: Long = LocalCcMaxRows): DataFrame = {
    val Seq(ea, eb) = edges.columns.toSeq.map(col)
    val v = col(vertices.columns.head)
    // SMALL-GRAPH FAST PATH (measured, capped): the distributed loop
    // pays one join + one aggregate + one checkpoint JOB per diameter
    // hop — for the contracted / per-batch graphs incremental
    // maintenance emits (thousands of rows, chain-shaped label
    // spaces) that is seconds of driver-side job scheduling to move
    // kilobytes. Under the cap, collect and union-find on the driver:
    // same labels (min reachable id), one job each side + one spill.
    // The gate is a bounded take(cap + 1), NOT count-then-collect: one
    // incremental pass decides AND fetches (a count would execute an
    // expensive edge-generation plan once for the gate and again for
    // the collect). An over-cap graph pays one discarded partial scan
    // and falls through to the unchanged distributed loop.
    if (localMaxRows > 0 && localMaxRows <= Int.MaxValue) {
      val cap = localMaxRows.toInt
      val vRows = vertices.select(v.cast("long")).take(cap + 1)
      val eCap = cap - vRows.length
      if (vRows.length <= cap && eCap >= 0) {
        val eRows = edges.select(ea.cast("long"), eb.cast("long")).take(eCap + 1)
        if (eRows.length <= eCap) {
          val vs = vRows.map(_.getLong(0))
          val es = eRows.map(r => (r.getLong(0), r.getLong(1)))
          return graft.pipeline.TempDirs.spillParquet(
            unionFindLocal(edges.sparkSession, vs, es), "graft_components_")
        }
      }
    }
    // hash-partition the static edge list by the probe key ONCE before
    // caching (the PageRank treatment): every round joins labels on s,
    // and a cache that already carries HashPartitioning(s) feeds every
    // round's join without re-shuffling the (large) edge side
    val sym = edges.select(ea.as("s"), eb.as("d"))
      .union(edges.select(eb.as("s"), ea.as("d")))
      .repartition(col("s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = vertices.select(v.as("v"), v.cast("long").as("label"))
      .localCheckpoint()
    // sum(label) is strictly decreasing until the fixpoint: cheap,
    // deterministic convergence probe (decimal: no long overflow on
    // wide id spaces, no double rounding)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast(DecimalType(38, 0)))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val neighborMin = sym
        .join(labels.select(col("v").as("s"), col("label")), Seq("s"))
        .groupBy(col("d").as("v")).agg(min("label").as("nlabel"))
      // LAZY checkpoint: the labelSum probe right below is the
      // materializing action, so each round runs ONE job instead of
      // two (eager localCheckpoint counts, then the probe scans again)
      val next = labels.join(neighborMin, Seq("v"), "left")
        .select(col("v"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .lazyCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      dropCheckpoint(labels)
      labels = next
      it += 1
    }
    sym.unpersist()
    // labels read off a non-fixpoint state are not component minima —
    // returning them silently would hand the caller wrong canonical ids.
    // Fail loudly instead; the fix is a larger maxIters (diameter bound)
    // or the O(log n) star-contraction variant for deep graphs.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIters=$maxIters " +
        "(graph diameter exceeds the iteration bound; raise maxIters or " +
        "use connectedComponentsStar)")
    // spill-and-release (TempDirs.spillParquet contract): the fixpoint
    // labels must not reach a registered query as a live checkpoint
    // block — |V| rows of two int64s, a trivial write
    val out = graft.pipeline.TempDirs.spillParquet(
      labels.select(col("v"), col("label").as("component")),
      "graft_components_")
    dropCheckpoint(labels)
    out
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the documented upgrade over label
    * propagation for ADVERSARIAL graphs: label propagation needs
    * diameter-many rounds (a 10⁶-node chain = 10⁶ rounds), star
    * contraction converges in O(log n) because each round rewires
    * every node toward its neighborhood minimum:
    *
    *   large-star(u): emit (v, m(u)) for v ∈ Γ(u), v > u
    *   small-star(u): emit (v, m(u)) for v ∈ Γ(u), v ≤ u
    *   with m(u) = min(Γ(u) ∪ {u})
    *
    * Each round is two groupBy-min + join passes over the edge list
    * (edges kept canonical (a < b), deduplicated), lineage truncated
    * per round like the propagation loop. The fixpoint is a forest of
    * stars centered at component minima; labels read off as the
    * neighbor min. Returns (labels, rounds) so callers — and the spec —
    * can assert the logarithmic convergence.
    */
  def connectedComponentsStar(edges: DataFrame, vertices: DataFrame,
                              maxIters: Int = 50): (DataFrame, Int) = {
    val Seq(ea, eb) = edges.columns.toSeq.map(col)
    val v = col(vertices.columns.head)

    def adj(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("nb"))
        .union(e.select(col("b").as("u"), col("a").as("nb")))

    def star(e: DataFrame, large: Boolean): DataFrame = {
      val a = adj(e)
      val m = a.groupBy("u").agg(min("nb").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val moved = a.join(m, Seq("u"))
        .filter(if (large) col("nb") > col("u") else col("nb") <= col("u"))
        .select(col("nb").as("x"), col("m"))
      // small-star also re-attaches u ITSELF to m — without it, a node
      // whose only neighbor is smaller loses its edge entirely (the
      // (v ≤ u) emission collapses to a self-loop at m)
      val withSelf = if (large) moved
        else moved.unionByName(m.select(col("u").as("x"), col("m")))
      val canon = withSelf
        .select(least(col("x"), col("m")).as("a"),
          greatest(col("x"), col("m")).as("b"))
        .filter(col("a") =!= col("b"))
      // dedup only on the round-final (small-star) output: the min
      // aggregate upstream is duplicate-insensitive, so large-star
      // duplicates cost only intermediate rows — one distinct shuffle
      // per round instead of two, and `e` stays a distinct set (the
      // invariant fingerprint/sameEdges rely on)
      if (large) canon else canon.distinct()
    }

    // (count, two INDEPENDENTLY-SEEDED order-independent checksums) —
    // one action per round; the hash sums go through decimal (full-range
    // longs overflow an ANSI long sum — same guard as the propagation
    // loop's labelSum). Two seeds: a single-sum collision needs one
    // 64-bit coincidence, a double-sum collision needs both at once —
    // so the exact confirmation below fires on the genuine fixpoint
    // round and essentially never on a false match.
    def fingerprint(e: DataFrame): (Long, String, String) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast(DecimalType(38, 0))),
        sum(xxhash64(lit(0x9e3779b9L), col("a"), col("b"))
          .cast(DecimalType(38, 0)))).head()
      def dec(i: Int) = if (r.isNullAt(i)) "0" else r.getDecimal(i).toString
      (r.getLong(0), dec(1), dec(2))
    }

    // a matching fingerprint is NECESSARY but (theoretically) not
    // sufficient — a simultaneous two-sum collision could still declare
    // a moving edge set stable and read labels off a non-fixpoint.
    // Confirm exactly, paid only on the (normally one) round whose
    // fingerprints match. Both sets are DISTINCT by construction (the
    // initial canonicalization and every star() end in .distinct()), so
    // equal counts + empty anti-join ⇔ equal sets — and the anti-join
    // probe is take(1)-short-circuited, cheaper than exceptAll's full
    // multiset difference.
    def sameEdges(x: DataFrame, y: DataFrame): Boolean =
      x.join(y, Seq("a", "b"), "left_anti").isEmpty

    var e = edges.filter(ea =!= eb)
      .select(least(ea, eb).as("a"), greatest(ea, eb).as("b")).distinct()
      .localCheckpoint()
    var fp = fingerprint(e)
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxIters) {
      // lazy checkpoint; the fingerprint probe materializes it (one job
      // per round — see the propagation loop). The large-star subtree
      // appears twice inside small-star's plan, but its shuffles are
      // deduplicated by exchange reuse (canonicalized-plan matching),
      // so an explicit mid-round materialization buys nothing
      // (measured +10 % at sf0.1 in round 8, a wash re-measured in
      // round 9 after the hashed-gram edge build) and would add a
      // block-lifecycle obligation per round.
      val next = star(star(e, large = true), large = false).lazyCheckpoint()
      val nfp = fingerprint(next)
      stable = nfp == fp && sameEdges(next, e)
      fp = nfp
      dropCheckpoint(e)
      e = next
      rounds += 1
    }
    // same contract as the propagation loop: a non-fixpoint edge set
    // does not guarantee neighbor-min labels are component minima
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within maxIters=$maxIters " +
        "(expected O(log n) rounds — raise maxIters)")
    val labels = vertices.select(v.as("v"))
      .join(adj(e).groupBy(col("u").as("v")).agg(min("nb").as("nmin")), Seq("v"), "left")
      .select(col("v"),
        least(col("v").cast("long"), coalesce(col("nmin"), col("v")).cast("long"))
          .as("component"))
    // spill-and-release: reading labels off the star forest is the last
    // consumer of the checkpointed edge set — release it before return
    val out = graft.pipeline.TempDirs.spillParquet(labels, "graft_components_star_")
    dropCheckpoint(e)
    (out, rounds)
  }
}
