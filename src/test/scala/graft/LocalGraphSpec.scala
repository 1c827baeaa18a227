package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Bfs, KCore, PageRank, Sssp}

/** Bit-equality of the r16 driver-local fast paths of the iterative
  * graph operators against their unchanged distributed loops
  * (localMaxRows = 0 disables the gate), on fixed and randomized
  * graphs — the ComponentsSpec union-find discipline applied to BFS,
  * bounded SSSP, k-core peeling and integer PageRank. Also pins the
  * over-cap fallthrough: a cap smaller than the graph must route to
  * the distributed loop and still produce the same rows. */
class LocalGraphSpec extends SparkSpec {
  import spark.implicits._

  private def rowsOf(df: DataFrame): Map[Any, Long] =
    df.collect().map(r => r.get(0) -> r.getLong(1)).toMap

  private val rnd = new scala.util.Random(0x16C4)

  private def randomEdges(n: Int, m: Int): Seq[(Long, Long)] =
    Seq.fill(m)((1L + rnd.nextInt(n).toLong, 1L + rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }

  test("bfs: local == distributed == tiny-cap fallthrough; hop budget binds") {
    def both(es: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Unit = {
      val e = (es ++ es.map(p => (p._2, p._1))).toDF("x", "y")
      def run(cap: Long) = rowsOf(Bfs.hopDistances(
        e, "x", "y", seeds.toDF("part"), "part", maxHops, localMaxRows = cap))
      val local = run(1000000L)
      assert(local === run(0L), s"local != distributed: $es seeds=$seeds")
      assert(local === run(2L), "tiny cap must fall through, same rows")
    }
    both(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), Seq(1L), maxHops = 3)
    both(Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L)), Seq(1L, 7L), maxHops = 2)
    both(Seq((1L, 2L)), Seq(9L), maxHops = 3) // unreachable component
    (1 to 2).foreach { _ =>
      both(randomEdges(40, 60), Seq(1L, 2L), maxHops = 3)
    }
  }

  test("sssp: local == distributed; negative weight fails loudly on both paths") {
    def both(es: Seq[(Long, Long, Long)], seeds: Seq[Long], rounds: Int): Unit = {
      val e = (es ++ es.map(t => (t._2, t._1, t._3))).toDF("x", "y", "w")
      def run(cap: Long) = rowsOf(Sssp.boundedDistances(
        e, "x", "y", "w", seeds.toDF("part"), "part", rounds,
        localMaxRows = cap))
      assert(run(1000000L) === run(0L), s"local != distributed: $es")
    }
    both(Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L)), Seq(1L), rounds = 4)
    // round budget binds: a cheaper long path is invisible at rounds = 1
    both(Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 5L)), Seq(1L), rounds = 1)
    (1 to 2).foreach { _ =>
      val es = randomEdges(30, 50).map { case (a, b) =>
        (a, b, rnd.nextInt(9).toLong) }
      both(es, Seq(1L), rounds = 4)
    }
    // the negative-weight contract holds on the LOCAL path too
    val bad = Seq((1L, 2L, -1L)).toDF("x", "y", "w")
    intercept[IllegalArgumentException] {
      Sssp.boundedDistances(bad, "x", "y", "w", Seq(1L).toDF("part"), "part", 2)
    }
  }

  test("kcore: local == distributed; round budget and threshold bind identically") {
    def both(es: Seq[(Long, Long)], k: Int, rounds: Int): Unit = {
      val e = (es ++ es.map(p => (p._2, p._1))).toDF("x", "y")
      def run(cap: Long) =
        rowsOf(KCore.peel(e, "x", "y", k, rounds, localMaxRows = cap))
      assert(run(1000000L) === run(0L), s"local != distributed: $es k=$k")
    }
    // triangle core + pendant chain (the KCoreSpec cascade), both budgets
    both(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)), k = 2, rounds = 3)
    both(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)), k = 2, rounds = 1)
    (1 to 2).foreach { _ => both(randomEdges(25, 60), k = 3, rounds = 3) }
  }

  test("pagerank: local integer fixed point == distributed, incl. isolated vertices") {
    def both(es: Seq[(Long, Long)], vs: Seq[Long], iters: Int): Unit = {
      // fixedPointRanks contract: a < b, no duplicate undirected edges
      val canon = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.filter { case (a, b) => a != b }
      def run(cap: Long) = rowsOf(PageRank.fixedPointRanks(
        canon.toDF("a", "b"), vs.toDF("v"), "v", iterations = iters,
        localMaxRows = cap))
      assert(run(1000000L) === run(0L), s"local != distributed: $canon")
    }
    both(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)), 1L to 6L, iters = 5)
    both(Seq((1L, 2L)), Seq(1L, 2L, 3L), iters = 1) // isolated vertex keeps teleport
    // an edge endpoint OUTSIDE the node set: mass may flow to it (and
    // vanish) but it must not appear in the output on either path
    both(Seq((1L, 2L), (2L, 99L)), Seq(1L, 2L, 3L), iters = 3)
    (1 to 2).foreach { _ => both(randomEdges(30, 45), 1L to 30L, iters = 3) }
  }

  test("bfs, sssp, pagerank: vertices that fill the cap with no edges stay local") {
    // the takeGraphUnder rule: local iff cap > 0 and |V| + |E| <= cap
    val vs = Seq(1L, 2L, 3L)
    def local(df: DataFrame, prefix: String): Map[Any, Long] = {
      assert(df.inputFiles.exists(_.contains(prefix)), s"$prefix: distributed side ran")
      rowsOf(df)
    }
    val e = Seq.empty[(Long, Long)].toDF("x", "y")
    def bfs(cap: Long) = Bfs.hopDistances(
      e, "x", "y", vs.toDF("part"), "part", maxHops = 2, localMaxRows = cap)
    assert(local(bfs(3L), "graft_bfs_local_") === rowsOf(bfs(0L)))
    val w = Seq.empty[(Long, Long, Long)].toDF("x", "y", "w")
    def sssp(cap: Long) = Sssp.boundedDistances(
      w, "x", "y", "w", vs.toDF("part"), "part", rounds = 2, localMaxRows = cap)
    assert(local(sssp(3L), "graft_sssp_local_") === rowsOf(sssp(0L)))
    def pr(cap: Long) = PageRank.fixedPointRanks(Seq.empty[(Long, Long)].toDF("a", "b"),
      vs.toDF("v"), "v", iterations = 2, localMaxRows = cap)
    assert(local(pr(3L), "graft_pagerank_local_") === rowsOf(pr(0L)))
  }
}
