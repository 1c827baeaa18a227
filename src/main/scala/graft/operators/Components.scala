package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}
import graft.pipeline.TempDirs

/** Connected components — the final stage of a dedup pipeline:
  * near-dup PAIRS (from LSH / SimHash / exact Jaccard) become CLUSTERS,
  * and each cluster keeps one canonical document (the minimum id, which
  * is exactly the component label computed here).
  *
  * One operator, one size gate ([[LocalGraph.takeGraphUnder]] under
  * [[LocalGraph.MaxRows]]): a graph whose MEASURED |V| + |E| fits the
  * cap is collected and union-found on the driver; anything larger runs
  * star contraction (large-star/small-star, Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14), which converges in
  * O(log n) rounds whatever the graph's diameter. Both sides return
  * the same rows under the same schema, (v LONG, component LONG):
  *   - ids are cast to LONG on the way in;
  *   - an edge with an endpoint outside `vertices` (or a null endpoint)
  *     connects nothing;
  *   - a null vertex id comes back as (null, null).
  */
object Components {

  /** Union-find core over driver arrays: (v, min reachable id) for
    * every v in `vs` — shared by the local side of
    * [[connectedComponents]] and the incremental-ER contracted-graph
    * fold. Edges with an endpoint outside `vs` are ignored. */
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

  private val Schema = StructType(Seq(
    StructField("v", LongType), StructField("component", LongType)))

  /** Connected components of the undirected graph (`edges`, `vertices`).
    *
    * @param edges    two-column DataFrame of undirected edges (a, b)
    * @param vertices one-column DataFrame of ALL vertex ids (isolated
    *                 vertices label themselves)
    * @param maxIters star-contraction round bound (above the cap only)
    * @param localMaxRows the driver-local cap; 0 forces star contraction
    * @return (v, component) — component = min vertex id reachable,
    *         spilled to scratch parquet
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
                          maxIters: Int = 50,
                          localMaxRows: Long = LocalGraph.MaxRows): DataFrame = {
    val Seq(ea, eb) = edges.columns.toSeq.map(col)
    val vs = vertices.select(col(vertices.columns.head).cast("long").as("v"))
    val es = edges.select(ea.cast("long").as("a"), eb.cast("long").as("b"))
    LocalGraph.takeGraphUnder(vs, es, localMaxRows) match {
      case Some((vRows, eRows)) =>
        TempDirs.spillParquet(unionFindLocal(edges.sparkSession, vRows, eRows),
          "graft_components_")
      case None => starComponents(es, vs, maxIters)._1
    }
  }

  /** The driver side: union-find over the collected rows, one output
    * row per vertex row; null ids label nothing and connect nothing. */
  private def unionFindLocal(spark: SparkSession,
                             vRows: Array[Row], eRows: Array[Row]): DataFrame = {
    val (nullVs, vs) = vRows.partition(_.isNullAt(0))
    val es = eRows.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1))
    }
    val rows = unionFindPairs(vs.map(_.getLong(0)), es).map { case (v, c) => Row(v, c) } ++
      nullVs.map(_ => Row(null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), Schema)
  }

  /** The distributed side: alternating large-star/small-star
    * contraction. Label propagation needs diameter-many rounds (a
    * 10⁶-node chain = 10⁶ rounds); star contraction converges in
    * O(log n) because each round rewires every node toward its
    * neighborhood minimum:
    *
    *   large-star(u): emit (v, m(u)) for v ∈ Γ(u), v > u
    *   small-star(u): emit (v, m(u)) for v ∈ Γ(u), v ≤ u
    *   with m(u) = min(Γ(u) ∪ {u})
    *
    * Each round is two groupBy-min + join passes over the edge list
    * (edges kept canonical (a < b), deduplicated), with the lineage
    * cut per round. The fixpoint is a forest of stars centered at
    * component minima; labels read off as the neighbor min. `es` and
    * `vs` are LONG (a, b) and (v). Returns (spilled labels, rounds) so
    * the spec can assert the logarithmic convergence.
    */
  private[graft] def starComponents(es: DataFrame, vs: DataFrame,
                                    maxIters: Int): (DataFrame, Int) = TempDirs.staged { s =>
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
    // longs overflow an ANSI long sum). Two seeds: a single-sum
    // collision needs one 64-bit coincidence, a double-sum collision
    // needs both at once — so the exact confirmation below fires on the
    // genuine fixpoint round and essentially never on a false match.
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

    // only edges between two vertices of `vs` connect anything (the
    // semi-joins also drop null endpoints, and the filter self-loops)
    var e = s.checkpoint(es
      .join(vs.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(vs.select(col("v").as("b")), Seq("b"), "left_semi")
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct(), eager = true)
    var fp = fingerprint(e)
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxIters) {
      // lazy checkpoint; the fingerprint probe materializes it (one job
      // per round). The large-star subtree appears twice inside
      // small-star's plan, but its shuffles are deduplicated by exchange
      // reuse (canonicalized-plan matching), so an explicit mid-round
      // materialization buys nothing (measured +10 % at sf0.1 in round
      // 8, a wash re-measured in round 9 after the hashed-gram edge
      // build) and would add a block-lifecycle obligation per round.
      val next = s.checkpoint(star(star(e, large = true), large = false))
      val nfp = fingerprint(next)
      stable = nfp == fp && sameEdges(next, e)
      fp = nfp
      s.release(e)
      e = next
      rounds += 1
    }
    // a non-fixpoint edge set does not guarantee neighbor-min labels are
    // component minima — returning them silently would hand the caller
    // wrong canonical ids
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIters=$maxIters " +
        "(expected O(log n) rounds — raise maxIters)")
    val labels = vs
      .join(adj(e).groupBy(col("u").as("v")).agg(min("nb").as("nmin")), Seq("v"), "left")
      .select(col("v"), least(col("v"), coalesce(col("nmin"), col("v"))).as("component"))
    // spill-and-release: reading labels off the star forest is the last
    // consumer of the checkpointed edge set, which the scope releases
    (TempDirs.spillParquet(labels, "graft_components_"), rounds)
  }
}
