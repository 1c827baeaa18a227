package graft

import graft.functions.Dedup
import graft.operators.{Components, LocalGraph}

/** Connected components — the clustering stage of dedup: driver
  * union-find under the LocalGraph cap, star contraction above it.
  * Registered under the oracle as q68 (driver side) and q83 (distributed
  * side); these cases pin the graph semantics the oracle can't isolate. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)], vertices: Seq[Long]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), vertices.toDF("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Min-label propagation to a fixpoint, on the driver: the reference
    * labelling the distributed side must reproduce. An edge with an
    * endpoint outside the vertex set connects nothing. */
  private def propagate(edges: Seq[(Long, Long)], vertices: Seq[Long]): Map[Long, Long] = {
    val in = vertices.toSet
    val adj = edges.filter { case (a, b) => in(a) && in(b) }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    var label = vertices.map(v => v -> v).toMap
    var changed = true
    while (changed) {
      val next = label.map { case (v, l) => v -> (l +: adj.getOrElse(v, Nil).map(label)).min }
      changed = next != label
      label = next
    }
    label
  }

  private def star(edges: Seq[(Long, Long)], vertices: Seq[Long]): (Map[Long, Long], Int) = {
    val (labels, rounds) = Components.starComponents(
      edges.toDF("a", "b"), vertices.toDF("v"), maxIters = 50)
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("chain longer than one hop converges to the global min label") {
    // diameter 4: the min must reach the far end
    val got = comps(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)), 1L to 5L)
    assert(got === (1L to 5L).map(_ -> 1L).toMap)
  }

  test("disjoint components keep distinct labels; isolated vertices self-label") {
    val got = comps(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 2L, 3L, 10L, 11L, 99L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("edge direction is irrelevant (graph is symmetrized)") {
    assert(comps(Seq((1L, 9L), (9L, 2L)), Seq(1L, 2L, 9L)) ===
      Map(1L -> 1L, 2L -> 1L, 9L -> 1L))
  }

  test("star + cycle topologies: one component each, min label wins") {
    val star = (2L to 6L).map(x => (1L, x))
    val cycle = Seq((20L, 21L), (21L, 22L), (22L, 20L))
    val got = comps(star ++ cycle, (1L to 6L) ++ (20L to 22L))
    assert((1L to 6L).forall(got(_) == 1L))
    assert((20L to 22L).forall(got(_) == 20L))
  }

  test("star contraction == label propagation on every topology; long chain converges in O(log n) rounds") {
    val cases = Seq(
      // (edges, vertices)
      (Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)), (1L to 5L).toSeq),
      (Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 2L, 3L, 10L, 11L, 99L)),
      ((2L to 6L).map(x => (1L, x)) ++ Seq((20L, 21L), (21L, 22L), (22L, 20L)),
        ((1L to 6L) ++ (20L to 22L)).toSeq),
      // adversarial 200-node chain: label propagation needs ~200 rounds
      ((1L until 200L).map(i => (i, i + 1L)), (1L to 200L).toSeq))
    cases.foreach { case (es, vs) =>
      val (labels, rounds) = star(es, vs)
      assert(labels === propagate(es, vs), s"star != propagation on $es")
      assert(rounds <= 12, s"star contraction took $rounds rounds (expected O(log n))")
    }
  }

  test("randomized graphs: star contraction == propagation on 5 seeded Erdős–Rényi graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 30 + rnd.nextInt(40)
      val es = for {
        i <- 1 to n; j <- (i + 1) to n if rnd.nextDouble() < 2.0 / n
      } yield (i.toLong, j.toLong)
      val vs = (1L to n.toLong).toSeq
      assert(star(es, vs)._1 === propagate(es, vs), s"mismatch on n=$n, |E|=${es.size}")
    }
  }

  test("non-convergence at maxIters fails loudly instead of returning wrong labels") {
    // a 200-node chain, one star-contraction round allowed: labels read
    // off a non-fixpoint edge set would be silently wrong, so the
    // distributed side (cap 0) must throw rather than return them
    val chain = (1L until 200L).map(i => (i, i + 1L))
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = sc.getPersistentRDDs.keySet.toSet
    val ex = intercept[IllegalStateException] {
      Components.connectedComponents(chain.toDF("a", "b"), (1L to 200L).toDF("v"),
        maxIters = 1, localMaxRows = 0L)
    }
    assert(ex.getMessage.contains("did not converge"))
    // the failure releases the rounds' checkpointed edge sets
    assert(sc.getPersistentRDDs.keySet.toSet === before)
    // the same graph converges fine under the default bound
    assert(comps(chain, 1L to 200L) === (1L to 200L).map(_ -> 1L).toMap)
  }

  test("rareGramEdges -> components on the corpus: labels form a valid partition") {
    val docs = Tables.documents(spark, sf)
    val edges = Dedup.rareGramEdges(docs, "doc_id", "text", n = 3,
      maxDf = 50L, minShared = 2L)
    val got = Components.connectedComponents(edges, docs.select($"doc_id"))
    val rows = got.collect().map(r => r.getLong(0) -> r.getLong(1))
    // every doc labeled exactly once, label <= id (min-reachable), and
    // every edge's endpoints agree on the component
    assert(rows.length === docs.count())
    assert(rows.forall { case (v, c) => c <= v })
    val label = rows.toMap
    val bad = edges.collect().filter(r => label(r.getLong(0)) != label(r.getLong(1)))
    assert(bad.isEmpty, s"edges crossing components: ${bad.take(5).mkString(",")}")
  }

  /** Driver-side reference: the same fixed-point integer PageRank,
    * vertex-at-a-time in plain Scala — every `/` is Long division, so
    * equality with the engine is EXACT, not approximate. */
  private def refPageRank(edges: Seq[(Long, Long)], vertices: Seq[Long],
                          iters: Int, scale: Long = 1000000000000L): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val n = vertices.size
    val teleport = (scale * 15L) / (100L * n)
    var rank = vertices.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val in = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((v, outs) <- adj; contrib = rank(v) / outs.size; u <- outs) in(u) += contrib
      rank = vertices.map(v => v -> (teleport + (85L * in(v)) / 100L)).toMap
    }
    rank
  }

  private def pr(edges: Seq[(Long, Long)], vertices: Seq[Long],
                 iters: Int = 5): Map[Long, Long] =
    graft.operators.PageRank.fixedPointRanks(
      edges.toDF("a", "b"), vertices.toDF("v"), "v", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("integer pagerank matches the driver-side reference EXACTLY on a mixed graph") {
    // star (1 is the hub) + a 2-cycle + an isolated vertex
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)
    for (k <- Seq(1, 3, 5))
      assert(pr(edges, vertices, k) === refPageRank(edges, vertices, k),
        s"mismatch at $k iterations")
  }

  test("pagerank ordering and teleport floor: hub > leaves; isolated vertex gets teleport only") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val vertices = Seq(1L, 2L, 3L, 4L, 9L)
    val got = pr(edges, vertices)
    assert(got(1L) > got(2L), "the hub must outrank its leaves")
    assert(got(2L) === got(3L) && got(3L) === got(4L), "symmetric leaves tie")
    val teleport = (1000000000000L * 15L) / (100L * 5L)
    assert(got(9L) === teleport, "an isolated vertex holds exactly the teleport mass")
  }

  test("leakage-safe split (q125): one split per component, and it is the component's hash split") {
    import org.apache.spark.sql.functions._
    val out = graft.queries.ExtensionQueries.q125
      .fn(spark, "/root/testdata/sf0.001").cache()
    // the defining property: a near-dup cluster never straddles splits
    assert(out.groupBy("component")
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).isEmpty)
    // and the split is q57's arithmetic applied to the component label
    val h = graft.functions.Hashes
      .h60(concat(lit("split|"), col("component").cast("string"))) % 100
    val expect = when(h < 80, "train").when(h < 90, "val").otherwise("test")
    assert(out.filter(col("split") =!= expect).isEmpty)
    // every doc present exactly once
    assert(out.count() === Tables.documents(spark, "/root/testdata/sf0.001").count())
  }

  test("leakage audit (q130): naive doc-hash split leaks dup pairs; cluster split leaks none") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val naiveLeaks = graft.queries.ExtensionQueries.q130.fn(spark, dir).count()
    assert(naiveLeaks > 0, "fixture must exhibit the leakage q125 exists to prevent")
    // the same audit against q125's cluster-keyed assignment: zero by construction
    val docs = Tables.documents(spark, dir)
    val edges = graft.functions.Dedup.rareGramEdges(docs, "doc_id", "text", 3, 50L, 2L)
    val clusterSplit = graft.queries.ExtensionQueries.q125.fn(spark, dir)
      .select(col("doc_id"), col("split"))
    val clusterLeaks = edges
      .join(clusterSplit.select(col("doc_id").as("a"), col("split").as("sa")), Seq("a"))
      .join(clusterSplit.select(col("doc_id").as("b"), col("split").as("sb")), Seq("b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(clusterLeaks === 0L)
  }

  test("driver union-find fast path == distributed propagation (r16): fixed, randomized, and out-of-vertex-set edges") {
    def both(es: Seq[(Long, Long)], vs: Seq[Long]): Unit = {
      def run(cap: Long) = Components.connectedComponents(
          es.toDF("a", "b"), vs.toDF("v"), localMaxRows = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = run(LocalGraph.MaxRows) // fast path (graphs are tiny)
      val dist = run(0L)                  // cap 0 disables → star contraction
      assert(local === dist, s"local != distributed on edges=$es vertices=$vs")
      assert(local === propagate(es, vs), s"local != propagation on edges=$es vertices=$vs")
    }
    // fixed topologies: chain, star+cycle, isolated vertices
    both(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)), 1L to 5L)
    both((2L to 6L).map(x => (1L, x)) ++ Seq((20L, 21L), (21L, 22L), (22L, 20L)),
      (1L to 6L) ++ (20L to 22L))
    // an edge touching a vertex OUTSIDE the seeded set must not connect
    // through it on either path
    both(Seq((1L, 500L), (500L, 2L)), Seq(1L, 2L))
    // randomized graphs, fixed seed
    val rnd = new scala.util.Random(0xE5C0)
    (1 to 3).foreach { _ =>
      val n = 60 + rnd.nextInt(60)
      val vs = (1L to n.toLong).toSeq
      val es = Seq.fill(n)((1L + rnd.nextInt(n).toLong, 1L + rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      both(es, vs)
    }
  }

  test("driver union-find == star contraction at caps 0, |V|+|E|-1, |V|+|E| and unbounded: fixed, random and dirty graphs") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // equal rows AND an equal schema on both sides of the gate, at the
    // caps around |V| + |E| (cap 0 and |V|+|E|-1: star contraction;
    // |V|+|E| and unbounded: driver union-find)
    def both(es: DataFrame, vs: DataFrame, what: String): Unit = {
      val n = vs.count() + es.count()
      assert(LocalGraph.takeGraphUnder(vs, es, n).isDefined, s"$what: local at cap $n")
      assert(LocalGraph.takeGraphUnder(vs, es, n - 1).isEmpty, s"$what: star at cap ${n - 1}")
      def run(cap: Long) = {
        val out = Components.connectedComponents(es, vs, localMaxRows = cap)
        (out.schema, out.collect().toSeq.sortBy(_.toString))
      }
      val star = run(0L)
      assert(star._1 === StructType(Seq(
        StructField("v", LongType), StructField("component", LongType))), s"$what: schema")
      Seq(n - 1, n, Long.MaxValue).foreach { cap =>
        assert(run(cap) === star, s"$what: cap $cap != cap 0")
      }
    }
    def longs(es: Seq[(Long, Long)], vs: Seq[Long], what: String): Unit =
      both(es.toDF("a", "b"), vs.toDF("v"), what)
    // fixed topologies: chain, disjoint + isolated, star + cycle, direction
    longs(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)), 1L to 5L, "chain")
    longs(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 2L, 3L, 10L, 11L, 99L), "disjoint")
    longs((2L to 6L).map(x => (1L, x)) ++ Seq((20L, 21L), (21L, 22L), (22L, 20L)),
      (1L to 6L) ++ (20L to 22L), "star+cycle")
    longs(Seq((1L, 9L), (9L, 2L)), Seq(1L, 2L, 9L), "direction")
    // no edges: local at cap |V| exactly (the edge take has 0 rows left)
    longs(Seq.empty, Seq(3L, 1L, 2L), "edgeless")
    // adversarial 200-node chain
    longs((1L until 200L).map(i => (i, i + 1L)), 1L to 200L, "chain200")
    // seeded Erdős–Rényi graphs
    val er = new scala.util.Random(42)
    (1 to 5).foreach { k =>
      val n = 30 + er.nextInt(40)
      val es = for {
        i <- 1 to n; j <- (i + 1) to n if er.nextDouble() < 2.0 / n
      } yield (i.toLong, j.toLong)
      longs(es, 1L to n.toLong, s"erdos-renyi $k (n=$n, |E|=${es.size})")
    }
    // random multigraphs: duplicate, antiparallel and self-loop edges
    val rnd = new scala.util.Random(0xE5C0)
    (1 to 3).foreach { k =>
      val n = 60 + rnd.nextInt(60)
      val es = Seq.fill(n)((1L + rnd.nextInt(n).toLong, 1L + rnd.nextInt(n).toLong))
      longs(es, 1L to n.toLong, s"random $k (n=$n)")
    }
    // dirty inputs
    longs(Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (2L, 3L), (4L, 4L)),
      Seq(1L, 2L, 3L, 4L), "duplicate, antiparallel and self-loop edges")
    // an edge touching a vertex OUTSIDE the vertex set connects nothing
    longs(Seq((1L, 500L), (500L, 2L)), Seq(1L, 2L), "out-of-set endpoint")
    both(Seq((1, 2), (2, 3), (7, 8), (8, 8)).toDF("a", "b"),
      Seq(1, 2, 3, 7, 8, 9).toDF("v"), "INT ids")
    both(Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)), (None, None))
        .toDF("a", "b"),
      Seq(Some(1L), None, Some(2L), Some(3L), None).toDF("v"), "null ids")
  }
}
