package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.TempDirs

/** Fixed-point integer PageRank over an undirected pair list — the
  * graph-centrality quality signal web-corpus curation runs (CCNet /
  * RefinedWeb-style pipelines weight pages by link authority; here the
  * same algorithm ranks documents inside a shared-provenance graph
  * such as [[graft.functions.Dedup.rareGramEdges]]).
  *
  * Exactness discipline: ranks are integers at a fixed scale
  * (`scale` ≈ total mass), every step is integer arithmetic —
  * contributions are `rank div degree`, damping is
  * `(dampNum · Σin) div dampDen`, teleport is
  * `(scale · (dampDen − dampNum)) div (dampDen · N)` — so the result
  * is bit-exact, order-independent (integer sums commute) and
  * oracle-expressible as plain SQL with `//`. Floor losses shave a few
  * units of mass per step identically in both engines; dangling-node
  * mass (degree 0) is dropped, the standard simplification. A float
  * PageRank would put cross-row double sums in the gate — the one
  * thing the oracle discipline forbids.
  *
  * Scale shape: per iteration ONE equi-join of ranks with the
  * symmetrized edge list and ONE integer sum keyed by destination —
  * the same join+agg round Components runs. Each round's ranks are
  * materialized via eager localCheckpoint (one job per round, prior
  * round's blocks freed), exactly the Components treatment: letting
  * the k rounds pile into one lazy plan re-optimizes and re-codegens
  * a k·4-shuffle DAG in a single job. The edge list is hash-partitioned
  * by the probe key once, then persisted and reused by all k
  * iterations plus the degree histogram. Measured at sf0.1, k=5
  * (cold rep): 7.1 s as one lazy plan → 6.3 s with per-round
  * checkpoints → 4.3 s once the cached edges carry
  * HashPartitioning(v) and the per-round joins stop re-shuffling the
  * edge side.
  *
  * Input `edges`: one row per undirected edge (a, b) with a < b and no
  * duplicates (the [[graft.functions.Dedup.rareGramEdges]] contract);
  * `nodes`: one row per vertex id in `idCol` (isolated vertices keep
  * the teleport rank). Output: (idCol, rank: Long).
  */
object PageRank {

  def fixedPointRanks(edges: DataFrame, nodes: DataFrame, idCol: String,
                      iterations: Int,
                      scale: Long = 1000000000000L,
                      dampNum: Long = 85L, dampDen: Long = 100L,
                      localMaxRows: Long = LocalGraph.MaxRows): DataFrame =
      TempDirs.staged { s =>
    require(iterations >= 1, "need at least one iteration")
    require(dampNum > 0 && dampNum < dampDen, "damping must be in (0,1)")
    // STAGE the edge relation once (r17, verdict item 5): the caller's
    // edge plan is typically an expensive self-join (rare-gram edges)
    // that every consumer below — the local-path gate, the symmetrized
    // union (which references it twice), the degree histogram — would
    // otherwise re-derive. Spilled to scratch parquet, the local gate
    // becomes a FREE count (zero rows shipped on an over-cap graph,
    // where takeUnder shipped up to cap rows to the driver before
    // discarding them — the permanent gate tax at 100 TB scale), and
    // the distributed loop's sym union reads a file twice instead of
    // running the self-join twice.
    val eStaged = TempDirs.spillParquet(
      edges.select(col("a"), col("b")), "graft_pagerank_e_")
    // SMALL-GRAPH FAST PATH (measured, capped — see [[LocalGraph]]):
    // the identical integer fixed point over collected rows. Per
    // iteration: contrib(v) = rank(v) / deg(v) for ranked vertices
    // with symmetrized degree, sum_in(dst) accumulates along the
    // symmetrized edges, and every NODE gets teleport +
    // (dampNum·sum_in) / dampDen — floor division of nonnegative longs
    // matches Spark's `div` term for term, so the ranks are bit-equal
    // (pinned by LocalGraphSpec against the cap-0 distributed loop).
    locally {
      val nodeRel = nodes.select(col(idCol))
      if (LocalGraph.sameIdType(nodeRel, eStaged))
      for (nRows <- LocalGraph.takeUnder(nodeRel, localMaxRows)
             if nRows.nonEmpty; // n = 0 keeps the distributed shape (empty out)
           eRows <- LocalGraph.collectAtMost(
             eStaged, localMaxRows - nRows.length)) {
        val n = nRows.length.toLong
        val adj = new scala.collection.mutable.HashMap[Any,
          scala.collection.mutable.ArrayBuffer[Any]]
        val deg = new scala.collection.mutable.HashMap[Any, Long]
        eRows.foreach { r =>
          val a = r.get(0); val b = r.get(1)
          adj.getOrElseUpdate(a,
            new scala.collection.mutable.ArrayBuffer[Any]) += b
          adj.getOrElseUpdate(b,
            new scala.collection.mutable.ArrayBuffer[Any]) += a
          deg.update(a, deg.getOrElse(a, 0L) + 1L)
          deg.update(b, deg.getOrElse(b, 0L) + 1L)
        }
        val teleport = (scale * (dampDen - dampNum)) / (dampDen * n)
        var ranks = new scala.collection.mutable.HashMap[Any, Long]
        nRows.foreach(r => ranks.update(r.get(0), scale / n))
        for (_ <- 1 to iterations) {
          val sumIn = new scala.collection.mutable.HashMap[Any, Long]
          ranks.foreach { case (v, rank) =>
            deg.get(v).foreach { d =>
              val c = rank / d
              adj(v).foreach(dst =>
                sumIn.update(dst, sumIn.getOrElse(dst, 0L) + c))
            }
          }
          val next = new scala.collection.mutable.HashMap[Any, Long]
          ranks.keysIterator.foreach(v => next.update(v,
            teleport + dampNum * sumIn.getOrElse(v, 0L) / dampDen))
          ranks = next
        }
        val spark = edges.sparkSession
        val schema = nodeRel.withColumn("rank", lit(0L)).schema
        return TempDirs.spillParquet(spark.createDataFrame(
          spark.sparkContext.parallelize(
            ranks.toSeq.map { case (v, rk) =>
              org.apache.spark.sql.Row(v, rk) }, 1),
          schema), "graft_pagerank_local_")
      }
    }
    // hash-partition the static edge list by the probe key ONCE before
    // caching: every round joins ranks on v, and a cache that already
    // carries HashPartitioning(v) feeds k sort-merge joins without k
    // re-shuffles of the (large) edge side
    val sym = s.cache(eStaged.select(col("a").as("v"), col("b").as("dst"))
      .union(eStaged.select(col("b").as("v"), col("a").as("dst")))
      .repartition(col("v")))
    val deg = sym.groupBy("v").agg(count(lit(1)).as("deg"))
    val stats = nodes.agg(count(lit(1)).as("n"))
    val base = nodes.select(col(idCol).as("v")).crossJoin(broadcast(stats))
    val teleport = expr(s"($scale * ${dampDen - dampNum}) div ($dampDen * n)")
    var ranks = s.checkpoint(
      base.select(col("v"), expr(s"$scale div n").as("rank")), eager = true)
    for (_ <- 1 to iterations) {
      val contribs = ranks.join(deg, Seq("v"))
        .select(col("v"), expr("rank div deg").as("contrib"))
      val in = contribs.join(sym, Seq("v"))
        .groupBy("dst").agg(sum("contrib").as("sum_in"))
      val next = s.checkpoint(base
        .join(in, base("v") === in("dst"), "left")
        .select(col("v"),
          (teleport +
            expr(s"($dampNum * coalesce(sum_in, 0L)) div $dampDen")).as("rank")),
        eager = true)
      s.release(ranks)
      ranks = next
    }
    // spill-and-release (TempDirs.spillParquet contract): the converged
    // ranks must not reach a registered query as a live checkpoint block
    TempDirs.spillParquet(
      ranks.select(col("v").as(idCol), col("rank")), "graft_pagerank_")
  }
}
