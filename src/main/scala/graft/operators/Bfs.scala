package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances over an edge relation — the Pregel
  * frontier-expansion shape (Malewicz et al., SIGMOD'10) expressed as
  * per-round equi-joins, the same discipline as
  * [[graft.operators.Components]] (star contraction) and
  * [[graft.operators.PageRank]].
  *
  * Semantics: `hop(v)` = the minimum number of edges on any path from
  * a seed to `v`, for every `v` within `maxHops` of a seed (seeds
  * themselves at hop 0). Directed expansion along `src → dst`; pass a
  * symmetrized edge list for undirected graphs.
  *
  * Scale shape: round `h` joins the CURRENT frontier (only the
  * vertices first reached at hop h−1, never the whole visited set)
  * against the edge relation on the source key — one shuffle per
  * round, map-side-combined distinct on the far side, and an anti-join
  * against the visited set so a vertex enters exactly once with its
  * MINIMUM hop (BFS order makes min-hop free — no re-labelling rounds
  * like weighted SSSP would need). Each round's NEW frontier is staged
  * to scratch parquet ([[graft.pipeline.TempDirs.spillParquet]]),
  * truncating the lineage so round k's plan does not re-derive rounds
  * 1..k−1 — the iterative operator discipline used by the
  * prefix-doubling and CC tiers; the visited accumulator is a LAZY
  * union over those per-round files (since r16 — re-spilling the
  * whole accumulated set per round wrote O(V·hops) bytes where
  * O(V) suffices). At 100 TB the cost is `maxHops` shuffles of
  * frontier-sized rows; the visited set never shuffles (it is the
  * anti-join's build side, read from the staged files).
  *
  * The per-round `isEmpty` early-exit costs one cheap job on an
  * already-staged (tiny-by-then) frontier and saves whole rounds once
  * the reachable set is exhausted.
  */
object Bfs {

  /** @param edges directed edges, columns (`srcCol`, `dstCol`).
    *               Pass a STAGED (file-backed) relation: the local-path
    *               gate counts then collects, so an expensive unstaged
    *               edge plan would execute twice (spill via
    *               [[graft.pipeline.TempDirs.spillParquet]] first)
    * @param seeds hop-0 vertices, column `idCol`
    * @return (`idCol`, `hop`) — min hop per reached vertex, hop ≤ maxHops */
  def hopDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, idCol: String, maxHops: Int,
                   localMaxRows: Long = LocalGraph.MaxRows): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    import graft.pipeline.TempDirs.spillParquet
    val e = edges.select(col(srcCol).as("g_src"), col(dstCol).as("g_dst"))
    val seed0 = seeds.select(col(idCol)).distinct()
    // SMALL-GRAPH FAST PATH (measured, capped — see [[LocalGraph]]):
    // under the cap, collect and run the frontier loop on the driver;
    // same min-hop semantics (a vertex enters once, at its first
    // round), one job per side + one spill instead of ~3 jobs × rounds.
    if (LocalGraph.sameIdType(seed0, e))
    for (sRows <- LocalGraph.collectUnder(seed0, localMaxRows);
         eRows <- LocalGraph.collectAtMost(e, localMaxRows - sRows.length)) {
      val adj = new scala.collection.mutable.HashMap[Any,
        scala.collection.mutable.ArrayBuffer[Any]]
      eRows.foreach { r =>
        adj.getOrElseUpdate(r.get(0),
          new scala.collection.mutable.ArrayBuffer[Any]) += r.get(1)
      }
      val hop = new scala.collection.mutable.HashMap[Any, Long]
      sRows.foreach(r => hop.update(r.get(0), 0L))
      var frontier: Iterable[Any] = hop.keysIterator.toSeq
      var h = 1L
      while (h <= maxHops && frontier.nonEmpty) {
        val next = new scala.collection.mutable.ArrayBuffer[Any]
        frontier.foreach { v =>
          adj.get(v).foreach(_.foreach { d =>
            if (!hop.contains(d)) { hop.update(d, h); next += d }
          })
        }
        frontier = next
        h += 1
      }
      val spark = edges.sparkSession
      val schema = seed0.withColumn("hop", lit(0L)).schema
      return spillParquet(spark.createDataFrame(
        spark.sparkContext.parallelize(
          hop.toSeq.map { case (v, hp) => org.apache.spark.sql.Row(v, hp) }, 1),
        schema), "graft_bfs_local_")
    }
    // NOT persisted/pre-partitioned: the per-round joins BROADCAST the
    // (small, staged) frontier over an edge-relation scan — the edge
    // side never shuffles, so a repartition+persist of it up front is
    // a pure extra shuffle (measured +1s on q190's 2.4 M edges, r16)
    val f0 = spillParquet(seed0, "graft_bfs_f0_")
    // visited is a LAZY union over the per-round frontier spills —
    // only each round's NEW frontier is ever written (O(V) spill bytes
    // total), not the whole accumulated set per round (O(V·hops), the
    // pre-r16 shape); the anti-join's build side is the same rows
    // either way, read from the same files
    var levels = Vector(f0.withColumn("hop", lit(0L)))
    var frontier = f0
    var h = 1
    var done = frontier.isEmpty
    while (h <= maxHops && !done) {
      val seen = levels.map(_.select(col(idCol))).reduce(_ unionAll _)
      val next = spillParquet(
        frontier.join(e, frontier(idCol) === e("g_src"))
          .select(col("g_dst").as(idCol)).distinct()
          .join(seen, Seq(idCol), "left_anti"),
        s"graft_bfs_f${h}_")
      if (next.isEmpty) done = true
      else {
        levels :+= next.withColumn("hop", lit(h.toLong))
        frontier = next
      }
      h += 1
    }
    levels.reduce(_ unionAll _)
  }
}
