package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop single/multi-source shortest paths over integer edge
  * weights — Bellman–Ford relaxation rounds as joins (the weighted
  * upgrade of [[Bfs]]; same Pregel shape, but a vertex CAN improve
  * after first discovery, so every round re-minimizes over the full
  * tentative-distance relation instead of anti-joining a visited set).
  *
  * Semantics after `rounds` rounds: dist(v) = the minimum total weight
  * over all paths from any seed to `v` using at most `rounds` edges —
  * exactly Bellman–Ford's invariant, and with integer weights the
  * result is exact and engine-replayable (the oracle unrolls the same
  * rounds as min-aggregate CTEs).
  *
  * Scale shape: each round is ONE equi-join of the current distance
  * relation against the (static, staged) edge list on the source key,
  * a union with the standing distances, and one map-side-combined MIN
  * aggregate — shuffle volume is |dist| + |frontier·out-degree| per
  * round, never pair-space. Lineage is truncated per round via scratch
  * parquet ([[graft.pipeline.TempDirs.spillParquet]], the iterative
  * tier's discipline), so round k does not replay rounds 1..k−1.
  * Negative weights are rejected: with hop-bounded relaxation they'd
  * be "correct" per the invariant but are never what a cost graph
  * means, and refusing loudly beats silently looping toward −∞ on a
  * negative cycle.
  */
object Sssp {

  /** @param edges directed weighted edges (`srcCol`, `dstCol`, `wCol`);
    *              symmetrize first for undirected graphs. Pass a STAGED
    *              (file-backed) relation: the local-path gate counts
    *              then collects, so an expensive unstaged edge plan
    *              would execute twice
    * @param seeds distance-0 vertices, column `idCol`
    * @return (`idCol`, `dist`: Long) for every vertex within `rounds`
    *         edges of a seed */
  def boundedDistances(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, seeds: DataFrame, idCol: String,
                       rounds: Int,
                       localMaxRows: Long = LocalGraph.MaxRows): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    import graft.pipeline.TempDirs.spillParquet
    val e = edges.select(col(srcCol).as("g_src"), col(dstCol).as("g_dst"),
      col(wCol).cast("long").as("g_w"))
    val seed0 = seeds.select(col(idCol)).distinct()
    // SMALL-GRAPH FAST PATH (measured, capped — see [[LocalGraph]]):
    // the same Bellman–Ford relaxation rounds over collected rows —
    // round r minimizes over dist(r−1) ∪ its one-hop relaxations,
    // exact long arithmetic either way. The negative-weight contract
    // is enforced on the collected rows (same loud failure, one fewer
    // job than the distributed pre-scan).
    if (LocalGraph.sameIdType(seed0, e))
    for (sRows <- LocalGraph.collectUnder(seed0, localMaxRows);
         eRows <- LocalGraph.collectAtMost(e, localMaxRows - sRows.length)
         // a NULL weight would NPE here where the distributed path
         // propagates null arithmetic (r16 advice) — same dirty input
         // must take the same path, so fall through instead
         if !eRows.exists(_.isNullAt(2))) {
      require(!eRows.exists(_.getLong(2) < 0),
        "Sssp.boundedDistances: negative edge weight")
      val adj = new scala.collection.mutable.HashMap[Any,
        scala.collection.mutable.ArrayBuffer[(Any, Long)]]
      eRows.foreach { r =>
        adj.getOrElseUpdate(r.get(0),
          new scala.collection.mutable.ArrayBuffer[(Any, Long)]) +=
          ((r.get(1), r.getLong(2)))
      }
      var dist = new scala.collection.mutable.HashMap[Any, Long]
      sRows.foreach(r => dist.update(r.get(0), 0L))
      for (_ <- 1 to rounds) {
        val next = dist.clone()
        dist.foreach { case (v, dv) =>
          adj.get(v).foreach(_.foreach { case (d, w) =>
            val cand = dv + w
            if (next.get(d).forall(cand < _)) next.update(d, cand)
          })
        }
        dist = next
      }
      val spark = edges.sparkSession
      val schema = seed0.withColumn("dist", lit(0L)).schema
      return spillParquet(spark.createDataFrame(
        spark.sparkContext.parallelize(
          dist.toSeq.map { case (v, dv) => org.apache.spark.sql.Row(v, dv) }, 1),
        schema), "graft_sssp_local_")
    }
    // NOT persisted/pre-partitioned: the relaxation joins broadcast the
    // (small, staged) distance relation over an edge scan — the edge
    // side never shuffles (the Bfs measurement, r16)
    val negative = e.filter(col("g_w") < 0).limit(1).count()
    require(negative == 0, "Sssp.boundedDistances: negative edge weight")
    var dist = spillParquet(
      seed0.withColumn("dist", lit(0L)),
      "graft_sssp_d0_")
    for (r <- 1 to rounds) {
      val relaxed = dist.join(e, dist(idCol) === e("g_src"))
        .select(col("g_dst").as(idCol), (col("dist") + col("g_w")).as("dist"))
      dist = spillParquet(
        dist.unionAll(relaxed).groupBy(idCol).agg(min("dist").as("dist")),
        s"graft_sssp_d${r}_")
    }
    dist
  }
}
