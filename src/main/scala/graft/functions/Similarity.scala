package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Relational
import graft.pipeline.TempDirs

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, same output shape:
  *  - brute force: broadcast the (small) query set against every vector —
  *    exact, O(n·q·d), the correctness baseline and perfectly scalable
  *    when |queries| is small (the fact side streams through codegen,
  *    nothing shuffles);
  *  - IVF: k-means-free inverted-file variant — centroids are sampled
  *    deterministically, every vector is assigned to its nearest
  *    centroid once (broadcast join), queries probe only the `nprobe`
  *    nearest buckets. At 100 TB the bucket assignment is the only full
  *    pass; per-query work drops by ~|buckets|/nprobe.
  *
  * All dot products are `aggregate(zip_with(...))` higher-order
  * expressions in double precision — codegen'd, left-to-right
  * summation, deterministic. Norms are computed ONCE per vector and
  * carried as a column: cos(a,b) = dot / (norm_a * norm_b) with the
  * exact same operands as the naive form (oracle-stable), but O(n+m)
  * sqrt work instead of O(n·m).
  */
object Similarity {

  /** Double-precision dot product of two float-array columns — the
    * native codegen'd expression (graft.plans.DotProductF32): one tight
    * primitive loop, ~60× faster than the higher-order-function form
    * below and bit-identical to it (same left-to-right double
    * summation; NativeSpec pins the equality). */
  def dot(a: Column, b: Column): Column = graft.plans.NativeExpressions.dotF32(a, b)

  /** The pure-built-ins formulation, kept as the portability fallback
    * and the parity reference for NativeSpec. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Naive per-pair cosine — kept for tests and one-off use; the
    * operators below use the precomputed-norm form. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** (id, embedding, norm) projection — the build-side pass. */
  private def withNorm(df: DataFrame, idAs: String, embAs: String, normAs: String) =
    df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
      norm(col("embedding")).as(normAs))

  /** Exact top-k neighbors for each query vector (excluding self). The
    * query side MUST be small (it is broadcast to every task). */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = withNorm(vectors, "neighbor_id", "v_emb", "v_norm")
    val q = withNorm(queries, "query_id", "q_emb", "q_norm")
    val scored = v.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("q_emb"), col("v_emb")) / (col("q_norm") * col("v_norm"))).as("cos_sim"))
    Relational.topNPerGroup(scored, k, Seq(col("query_id")),
      col("cos_sim"), col("neighbor_id"))
  }

  /** Deterministic centroid sample: the `c` vectors with the smallest
    * ids (k-means init; the plan shape is what matters). */
  def centroids(vectors: DataFrame, c: Int): DataFrame =
    vectors.orderBy(col("vec_id")).limit(c)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"))

  /** Lloyd-iteration k-means refinement of the codebook: assign every
    * vector to its nearest centroid, recompute centroids as the
    * element-wise mean of their members, repeat. Deterministic (id
    * init, cosine assignment with id tiebreak). Each iteration is one
    * assign pass (broadcast codebook — the only full-data scan) plus a
    * tiny per-cluster aggregate: d mean-aggregates over c groups, so
    * the shuffle carries c·d doubles regardless of input size. Empty
    * clusters keep their previous centroid. */
  def kmeansCentroids(vectors: DataFrame, c: Int, iters: Int, dim: Int): DataFrame =
    lloyd(vectors, centroids(vectors, c), iters, dim, ivfAssign)

  /** The Lloyd loop shared by the cosine (IVF) and squared-L2 (PQ)
    * codebooks: `assign` maps (vectors, centroids) to rows carrying at
    * least (vec_id, embedding, centroid_id). */
  private def lloyd(vectors: DataFrame, init: DataFrame, iters: Int, dim: Int,
                    assign: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    var cents = init
    for (_ <- 0 until iters) {
      val assigned = assign(vectors, cents)
      val means = assigned.groupBy(col("centroid_id"))
        .agg(array((0 until dim).map(i =>
          avg(col("embedding").getItem(i)).cast("float")): _*).as("m_emb"))
      val next = cents.join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("m_emb"), col("c_emb")).as("c_emb"))
      // materialize each iteration's codebook (c·d floats — driver-tiny):
      // left lazy, iteration i+1's plan would EMBED and re-execute
      // iteration i's full assign pass, making Lloyd quadratic in iters
      cents = spark.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
    cents
  }

  /** Squared-L2 nearest-centroid assignment — [[ivfAssign]]'s metric
    * twin for the PQ path (k-means under L2 is the classical PQ
    * training objective; cosine is IVF's). Same agg-first shape:
    * `min_by` hash aggregate, n·c scored rows collapse before the
    * shuffle. */
  def l2Assign(vectors: DataFrame, cents: DataFrame): DataFrame =
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents.select(col("centroid_id"), col("c_emb"))))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        l2sq(col("embedding"), col("c_emb")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        min_by(col("centroid_id"),
          struct(col("d2"), col("centroid_id"))).as("centroid_id"))

  /** IVF codebook-size rule of thumb: c ≈ √n makes bucket count and
    * expected bucket size both ≈ √n, so within-bucket pair work totals
    * O(n) — the property that keeps near-dup pairing linear at 100 TB.
    * (A fixed c leaves buckets of n/c: quadratic growth per bucket.) */
  def codebookSize(n: Long): Int =
    math.max(4, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Trained √n codebook: k-means (Lloyd) refined from the id-sample
    * init, trained on a bounded deterministic sample of ≤256·c vectors
    * so each Lloyd iteration scans ≤256·c rows, NOT the corpus — at
    * scale the full data is touched exactly once, by the later
    * `ivfAssign` pass. The two driver-side actions here (count +
    * dimension probe) are the codebook "training job" any IVF system
    * runs before indexing. */
  def trainedCodebook(vectors: DataFrame, n: Long, iters: Int = 1): DataFrame = {
    if (n == 0L)
      return vectors.select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb")).limit(0)
    val c = codebookSize(n)
    val dim = vectors.select(size(col("embedding"))).head().getInt(0)
    val cap = 256L * c
    val train =
      if (n <= cap) vectors
      else {
        // the hash filter hits `cap` rows only in expectation; on a small
        // or skewed vec_id population it can undershoot c, which would
        // silently shrink the codebook (codebookSize contract) — union
        // the c smallest ids back in so |train| >= c always
        val sampled = vectors.filter(pmod(xxhash64(col("vec_id")), lit(n / cap)) === 0)
        sampled.unionByName(vectors.orderBy(col("vec_id")).limit(c))
          .dropDuplicates("vec_id")
      }
    kmeansCentroids(train, c, iters, dim)
  }

  /** k-means|| initialization (Bahmani et al., "Scalable k-means++",
    * VLDB 2012) — the distributed seeding that replaces k-means++'s k
    * SEQUENTIAL corpus passes with `rounds` (≈ O(log n) in the paper;
    * fixed small here) passes that each sample ~`l` centers
    * INDEPENDENTLY per partition: accept x with probability
    * min(1, l·d²(x,C)/Σd²). At 100 TB this is the only viable init —
    * k-means++ needs k round trips with a growing broadcast; this
    * needs `rounds` map-side aggregates.
    *
    * Every round is EXACTLY replayable (no RNG, no float totals):
    *  - d²(x, C) = min over candidates of the codegen'd left-to-right
    *    L2 ([[l2sq]]) — a min of deterministic doubles;
    *  - the potential is QUANTIZED to an integer, p = ⌊d²·2²⁰⌋, so the
    *    normalizer D = Σp is an integer sum (a float Σd² would be
    *    addition-order-nondeterministic — the q131 lesson);
    *  - the coin is the keyed hash h60(salt|round|vec_id), and
    *    acceptance is the pure 128-bit integer comparison
    *    h·D < l·p·2⁶⁰ (decimal(38,0) here, HUGEINT in the oracle).
    *
    * The final k selection keeps the top-k candidates by (weight DESC,
    * vec_id) where weight = |cluster| under the candidate set — the
    * deterministic stand-in for the paper's weighted k-means++ recluster
    * (a float Lloyd over ≤ rounds·l driver-side points in production;
    * the seam rule: exact pipeline, documented approximation at the
    * end). Output: every candidate with (vec_id, round, weight, rank,
    * selected).
    *
    * Scale shape: per round ONE map-side-combined min-aggregate over
    * the corpus against a broadcast candidate set, one integer-sum
    * scalar, one filter; the collects are the candidate set itself
    * (O(rounds·l) rows — driver-tiny by construction) and the scalar D.
    */
  def kmeansParallelInit(vectors: DataFrame, rounds: Int, l: Int, k: Int,
                         salt: String): DataFrame = {
    val spark = vectors.sparkSession
    val (cand, weights) = kmppCandidates(vectors, rounds, l, salt)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("weight").desc, col("c_id").asc) // |C| rows: single-partition window is fine
    spark.createDataFrame(cand.map(c => (c._1, c._3)).toSeq).toDF("c_id", "round")
      .join(weights, Seq("c_id"), "left")
      .withColumn("weight", coalesce(col("weight"), lit(0L)))
      .withColumn("rank", row_number().over(w))
      .select(col("c_id").as("vec_id"), col("round"), col("weight"),
        col("rank"), (col("rank") <= k).as("selected"))
  }

  /** The k-means|| sampling loop + the candidate-weight pass, shared by
    * the oracle-exact [[kmeansParallelInit]] and the production
    * recluster [[kmeansParallelCentroids]]. Returns the candidate set
    * (vec_id, embedding, round entered) and the per-candidate cluster
    * weights. */
  private def kmppCandidates(vectors: DataFrame, rounds: Int, l: Int,
                             salt: String)
      : (Array[(Long, Seq[Float], Int)], DataFrame) = {
    val spark = vectors.sparkSession
    val v = vectors.select(col("vec_id"), col("embedding"))
    val seedId = v.agg(min(col("vec_id"))).head.getLong(0)
    var cand: Array[(Long, Seq[Float], Int)] = v.filter(col("vec_id") === seedId)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), 0))
    def candDf = broadcast(
      spark.createDataFrame(cand.toSeq).toDF("c_id", "c_emb", "round"))
    val big = (c: Column) => c.cast(DecimalType(38, 0))
    val pow60 = 1152921504606846976L // 2^60, the h60 hash-space size
    for (t <- 1 to rounds) {
      val pots = v.crossJoin(candDf)
        .select(col("vec_id"), l2sq(col("embedding"), col("c_emb")).as("dd"))
        .groupBy("vec_id").agg(min(col("dd")).as("d2"))
        .select(col("vec_id"), floor(col("d2") * 1048576.0).cast(LongType).as("p"))
      val totalD = pots.agg(sum(col("p"))).head.getLong(0)
      val h = Hashes.h60(concat(lit(s"$salt|$t|"), col("vec_id").cast(StringType)))
      val accepted = pots
        .filter(big(h) * big(lit(totalD)) <
          big(lit(l.toLong)) * big(col("p")) * big(lit(pow60)))
        .select("vec_id").collect().map(_.getLong(0))
      if (accepted.nonEmpty) {
        val ids = accepted.toSet
        cand = cand ++ v.filter(col("vec_id").isInCollection(ids))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1), t))
      }
    }
    // one corpus assign pass for the weights (min_by: map-side combine,
    // no window over n·|C| rows); a candidate can weigh 0 if it exactly
    // duplicates a lower-id candidate — keep it, weight 0
    val weights = v.crossJoin(candDf)
      .select(col("vec_id"), col("c_id"),
        l2sq(col("embedding"), col("c_emb")).as("dd"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("c_id"), struct(col("dd"), col("c_id"))).as("c_id"))
      .groupBy(col("c_id")).agg(count(lit(1)).as("weight"))
    (cand, weights)
  }

  /** HARD-NEGATIVE mining for contrastive training (the DPR/contrastive
    * recipe): for every anchor, candidates meet through the anchor's
    * IVF cell (the q53 equi-join shape — never O(n²)), rank by cosine,
    * SKIP the top `skip` (the near-duplicate / likely-positive zone a
    * contrastive loss must not see as negatives) and keep the next
    * `take` — similar enough to be hard, dissimilar enough to be
    * negative. Output: (anchor_id, negative_id, cos_sim, neg_rank
    * 1..take). Every cell assignment, cosine and tiebreak is
    * deterministic, so the whole mining pass is SQL-replayable under
    * the sampled-codebook discipline.
    *
    * Scale shape: one equi-join on centroid_id (Σ cell² ≈ n·√n pair
    * rows for the √n codebook), one per-anchor top-(skip+take) window
    * within cell-bounded groups. At 100 TB the cells ARE the shards —
    * the same layout the near-dup pass already proved out. */
  def hardNegatives(vectors: DataFrame, cents: DataFrame,
                    skip: Int, take: Int): DataFrame = {
    require(skip >= 0 && take >= 1, "skip >= 0, take >= 1")
    val assigned = ivfAssign(vectors, cents)
    val a = assigned.select(col("vec_id").as("anchor_id"),
      col("embedding").as("a_emb"), col("v_norm").as("a_norm"), col("centroid_id"))
    val b = assigned.select(col("vec_id").as("negative_id"),
      col("embedding").as("n_emb"), col("v_norm").as("n_norm"), col("centroid_id"))
    val pairs = a.join(b, Seq("centroid_id"))
      .filter(col("anchor_id") =!= col("negative_id"))
      .select(col("anchor_id"), col("negative_id"),
        (dot(col("a_emb"), col("n_emb")) / (col("a_norm") * col("n_norm")))
          .as("cos_sim"))
    Relational.topNPerGroup(pairs, skip + take, Seq(col("anchor_id")),
        col("cos_sim"), col("negative_id"))
      .filter(col("rank") > skip)
      .select(col("anchor_id"), col("negative_id"), col("cos_sim"),
        (col("rank") - skip).as("neg_rank"))
  }

  /** The PRODUCTION k-means|| finish (the paper's step the oracle-exact
    * [[kmeansParallelInit]] stands in for with its top-k-by-weight
    * cut): recluster the weighted candidate set down to k centers with
    * Lloyd ON THE DRIVER — the candidate set is O(rounds·l) points, so
    * this is exactly the "recluster the coreset locally" step Bahmani
    * et al. prescribe; the corpus is never rescanned during the
    * recluster. Seeding is the deterministic top-k-by-weight cut
    * (ties → lower id); each Lloyd iteration is weighted
    * (assign candidate → nearest center by L2, recompute centers as
    * weight-weighted means; an emptied center keeps its position).
    * Float means ⇒ rows-only at the gate (the q24/q100 convention);
    * the exact sampling half IS hash-gated as q162.
    *
    * Returns (centroid_id 0..k−1, n_assigned) — the corpus assignment
    * census under the trained centers: ONE final corpus pass, map-side
    * combined, same shape as the weight pass. */
  def kmeansParallelCentroids(vectors: DataFrame, rounds: Int, l: Int, k: Int,
                              salt: String, iters: Int = 5): DataFrame = {
    val spark = vectors.sparkSession
    val (cand, weightsDf) = kmppCandidates(vectors, rounds, l, salt)
    val wmap = weightsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pts = cand.map(c =>
      (c._2.map(_.toDouble).toArray, wmap.getOrElse(c._1, 0L).toDouble, c._1))
    val dim = pts.head._1.length
    def l2d(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }; s
    }
    var centers: Array[Array[Double]] =
      pts.sortBy(p => (-p._2, p._3)).take(k).map(_._1.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val ws = new Array[Double](centers.length)
      for ((x, wt, _) <- pts if wt > 0) {
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < centers.length) {
          val d = l2d(x, centers(j)); if (d < bd) { bd = d; best = j }; j += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += wt * x(i); i += 1 }
        ws(best) += wt
      }
      centers = centers.indices.map { j =>
        if (ws(j) > 0) sums(j).map(_ / ws(j)) else centers(j)
      }.toArray
    }
    val centDf = broadcast(spark.createDataFrame(
      centers.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c.map(_.toFloat).toSeq) })
      .toDF("centroid_id", "c_emb"))
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(centDf)
      .select(col("vec_id"), col("centroid_id"),
        l2sq(col("embedding"), col("c_emb")).as("dd"))
      .groupBy(col("vec_id"))
      .agg(min_by(col("centroid_id"), struct(col("dd"), col("centroid_id")))
        .as("centroid_id"))
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_assigned"))
  }

  /** JVM-scoped codebook cache: Lloyd training is deterministic, so a
    * codebook trained once per (corpus tag, n, iters) can be shared by
    * every operator in the session — the bench's q24 (ANN probe) and
    * q25 (near-dup pairs) index the SAME corpus, and retraining per
    * query would pay the Lloyd scan twice for an identical result. The
    * cached value is the collected centroid rows (c·d floats —
    * driver-tiny, same data `kmeansCentroids` already materializes),
    * rebuilt into a local DataFrame per call. */
  private val codebookCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Int), (Array[org.apache.spark.sql.Row], StructType)]()

  def sharedCodebook(vectors: DataFrame, n: Long, tag: String,
                     iters: Int = 1): DataFrame = {
    val (rows, schema) = codebookCache.computeIfAbsent((tag, n, iters), _ => {
      val cb = trainedCodebook(vectors, n, iters)
      (cb.collect(), cb.schema)
    })
    vectors.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Assign every vector to its nearest centroid — the IVF build pass.
    * Output carries the vector norm for all downstream cosine work.
    *
    * The arg-max is a `max_by` HASH AGGREGATE over the broadcast cross
    * score, not a window: partial aggregation collapses the n·c scored
    * rows to one row per vector BEFORE the shuffle, so the exchange
    * carries n rows — a window (row_number) form would shuffle and
    * sort all n·c. Tiebreak matches the window convention: highest
    * cosine, then lowest centroid id (via the negated id in the
    * ordering struct). */
  def ivfAssign(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val v = withNorm(vectors, "vec_id", "embedding", "v_norm")
    val c = cents.select(col("centroid_id"), col("c_emb"), norm(col("c_emb")).as("c_norm"))
    v.crossJoin(broadcast(c))
      .select(col("vec_id"), col("embedding"), col("v_norm"), col("centroid_id"),
        (dot(col("embedding"), col("c_emb")) / (col("v_norm") * col("c_norm"))).as("c_sim"))
      .groupBy(col("vec_id"))
      .agg(
        first(col("embedding")).as("embedding"),
        first(col("v_norm")).as("v_norm"),
        max_by(col("centroid_id"),
          struct(col("c_sim"), (-col("centroid_id")).as("neg_id"))).as("centroid_id"))
      .select(col("vec_id"), col("embedding"), col("v_norm"), col("centroid_id"))
  }

  /** IVF probe: per query, rank centroids, keep `nprobe`, join the
    * inverted lists, exact-score only those vectors, top-k. */
  def ivfTopK(assigned: DataFrame, cents: DataFrame, queries: DataFrame,
              k: Int, nprobe: Int): DataFrame = {
    val q = withNorm(queries, "query_id", "q_emb", "q_norm")
    val c = cents.select(col("centroid_id"), col("c_emb"), norm(col("c_emb")).as("c_norm"))
    val probes = Relational.topNPerGroup(
      q.crossJoin(broadcast(c))
        .select(col("query_id"), col("q_emb"), col("q_norm"), col("centroid_id"),
          (dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("c_sim")),
      nprobe, Seq(col("query_id")), col("c_sim"), col("centroid_id"))
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("centroid_id"))
    val scored = assigned.join(broadcast(probes), Seq("centroid_id"), "inner")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("v_norm"))).as("cos_sim"))
    Relational.topNPerGroup(scored, k, Seq(col("query_id")),
      col("cos_sim"), col("neighbor_id"))
  }

  /** ANN for a LARGE query set — the join-based batch scorer that
    * [[ivfTopK]]'s contract explicitly is NOT ("the query side MUST be
    * small"): here EVERY vector is a query (all-corpus k-NN — the
    * SemDeDup / near-dup-graph workload), so the probe table is
    * corpus-sized and must never be broadcast. Probes meet inverted
    * lists through a plain SHUFFLE equi-join on centroid_id — no hint;
    * both sides hash-partition by cell, and each cell's work is
    * |cell|·(queries probing it), bounded by the √n codebook. The only
    * broadcast is the codebook itself (c·d floats, limit-bounded —
    * ~16 MB at c=√10⁹). Per-query top-k is a window partitioned by
    * query — distributed across queries, never global.
    *
    * Same metric/tie-break discipline as [[ivfTopK]] (cosine desc,
    * neighbor_id asc; deterministic id-sample codebooks reproduce in
    * SQL), so with the same codebook the two agree exactly on any
    * query in both — spec-pinned. Output: (query_id, neighbor_id,
    * cos_sim, rank ≤ k). */
  def ivfBatchTopK(vectors: DataFrame, cents: DataFrame,
                   k: Int, nprobe: Int): DataFrame = {
    val assigned = ivfAssign(vectors, cents)
    val c = cents.select(col("centroid_id"), col("c_emb"), norm(col("c_emb")).as("c_norm"))
    val q = withNorm(vectors, "query_id", "q_emb", "q_norm")
    val probes = Relational.topNPerGroup(
      q.crossJoin(broadcast(c))
        .select(col("query_id"), col("q_emb"), col("q_norm"), col("centroid_id"),
          (dot(col("q_emb"), col("c_emb")) / (col("q_norm") * col("c_norm"))).as("c_sim")),
      nprobe, Seq(col("query_id")), col("c_sim"), col("centroid_id"))
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("centroid_id"))
    val scored = assigned.join(probes, Seq("centroid_id"), "inner")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot(col("q_emb"), col("embedding")) / (col("q_norm") * col("v_norm"))).as("cos_sim"))
    Relational.topNPerGroup(scored, k, Seq(col("query_id")),
      col("cos_sim"), col("neighbor_id"))
  }

  // ------------- Product quantization (IVF-PQ's compression half) -------

  /** Squared L2 distance of two float-array columns — double precision,
    * left-to-right summation (the same oracle-stable discipline as
    * [[dotHof]]; DuckDB's `list_reduce` fold reproduces it exactly). */
  def l2sq(a: Column, b: Column): Column = graft.plans.NativeExpressions.l2sqF32(a, b)

  /** The pure-built-ins L2² formulation — portability fallback and the
    * parity reference for NativeSpec (the optimizer rewrite also maps
    * this shape onto the native kernel). */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)

  /** Explode an embedding into its `m` contiguous sub-vectors:
    * (…, block ∈ [0, m), sub = slice b·(dim/m)..(b+1)·(dim/m)). */
  private def explodeBlocks(df: DataFrame, idCol: String, embCol: String,
                            m: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    df.select(col(idCol), explode(array((0 until m).map { b =>
        struct(lit(b).as("block"),
          slice(col(embCol), b * subDim + 1, subDim).as("sub"))
      }: _*)).as("bs"))
      .select(col(idCol), col("bs.block").as("block"), col("bs.sub").as("sub"))
  }

  /** PQ sub-codebooks with the deterministic id-sample init (the q52
    * discipline — the plan shape is the point, and an id-deterministic
    * codebook is what lets DuckDB reproduce the assignment exactly):
    * block b's codebook = sub-slice b of the `c` smallest-id vectors.
    * Output (block, code_id, sc_emb): m·c rows of (dim/m) floats —
    * driver-tiny, always broadcast. [[pqCodebooksTrained]] refines each
    * block's codebook with L2 Lloyd; the assign and ADC passes are
    * identical either way. */
  def pqCodebooks(vectors: DataFrame, m: Int, c: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m equal blocks")
    explodeBlocks(centroids(vectors, c).withColumnRenamed("centroid_id", "code_id"),
      "code_id", "c_emb", m, dim)
      .select(col("block"), col("code_id"), col("sub").as("sc_emb"))
  }

  /** Trained PQ sub-codebooks: squared-L2 Lloyd refinement (the
    * classical PQ objective) from the id-sample init. Training reads
    * the corpus ONCE: a bounded deterministic sample (≤256·c
    * smallest-id vectors, ~1 MB at c=16·d=64) is materialized locally,
    * and the Lloyd scans run over that local frame — the corpus's
    * single full pass remains [[pqAssign]], the same cost discipline
    * as [[trainedCodebook]].
    *
    * All m blocks train JOINTLY, grouped by block: one assign job and
    * one mean-aggregate per Lloyd iteration TOTAL, not per block —
    * blocks never interact (the grouping key keeps them independent,
    * so the result is identical to m separate per-block loops with the
    * same init and (d2, code_id) tie-break), but a per-block loop
    * costs m·iters sequential Spark jobs, which at m=32 is pure
    * scheduling overhead. Same output shape as [[pqCodebooks]] —
    * drop-in for the assign/ADC passes. */
  def pqCodebooksTrained(vectors: DataFrame, m: Int, c: Int, dim: Int,
                         iters: Int = 1): DataFrame = TempDirs.staged { s =>
    require(dim % m == 0, s"dim $dim must split into m=$m equal blocks")
    val spark = vectors.sparkSession
    val subDim = dim / m
    val sampleRows = vectors.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(256 * c)
    val sample = spark.createDataFrame(
      java.util.Arrays.asList(sampleRows.collect(): _*), sampleRows.schema)
    // The Lloyd scans expand the sample to |sample|·m·c scored rows per
    // iteration — but a LocalRelation plans as a single partition, so
    // without redistribution all of it runs on ONE task (measured: 5 s
    // of q108's 8.6 s at sf0.1). One tiny shuffle of the bounded sample
    // spreads the expansion across the cluster; hash partitioning by
    // vec_id keeps per-run determinism (fixed row order per partition).
    val blocks = s.cache(explodeBlocks(sample.repartition(col("vec_id")),
      "vec_id", "embedding", m, dim))
    var books = pqCodebooks(sample, m, c, dim)
    for (_ <- 0 until iters) {
      val assigned = blocks.join(broadcast(books), Seq("block"))
        .select(col("vec_id"), col("block"), col("sub"), col("code_id"),
          l2sq(col("sub"), col("sc_emb")).as("d2"))
        .groupBy(col("vec_id"), col("block"))
        .agg(first(col("sub")).as("sub"),
          min_by(col("code_id"), struct(col("d2"), col("code_id"))).as("code_id"))
      val means = assigned.groupBy(col("block"), col("code_id"))
        .agg(array((0 until subDim).map(i =>
          avg(col("sub").getItem(i)).cast("float")): _*).as("m_emb"))
      val next = books.join(means, Seq("block", "code_id"), "left")
        .select(col("block"), col("code_id"),
          coalesce(col("m_emb"), col("sc_emb")).as("sc_emb"))
      // materialize per iteration (m·c·subDim floats — driver-tiny);
      // left lazy, iteration i+1 would re-execute iteration i's assign
      books = spark.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
    books
  }

  /** PQ encode — the one full-data pass: every vector becomes m small
    * integer codes (nearest sub-centroid per block, squared-L2, ties to
    * the lowest code id). This is the 100 TB story: a 64-dim float
    * embedding (256 B) compresses to m codes (m bytes at c ≤ 256), a
    * 32-64× storage/scan reduction, and the arg-min is a `min_by` hash
    * aggregate — partial aggregation collapses the n·m·c scored rows
    * before the one shuffle, which carries n·m rows (same agg-first
    * rule as [[ivfAssign]]). Output (vec_id, block, code). */
  def pqAssign(vectors: DataFrame, books: DataFrame, m: Int, dim: Int): DataFrame =
    explodeBlocks(vectors, "vec_id", "embedding", m, dim)
      .join(broadcast(books), Seq("block"))
      .select(col("vec_id"), col("block"), col("code_id"),
        l2sq(col("sub"), col("sc_emb")).as("d2"))
      .groupBy(col("vec_id"), col("block"))
      .agg(min_by(col("code_id"), struct(col("d2"), col("code_id"))).as("code"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: per query, build the
    * m·c lookup table of exact query-sub-to-centroid distances (the
    * asymmetric trick — only the database side is quantized), broadcast
    * it, and score every vector as the SUM of m table lookups — an
    * equi-join on (block, code) plus one hash aggregate; the corpus
    * embeddings themselves are never read. Approximate by construction
    * (codes quantize) yet fully DETERMINISTIC: every arithmetic step
    * (LUT distances, block-ordered ADC fold, ranking) replays in SQL,
    * so q100 carries a full DuckDB oracle; recall vs the exact scan is
    * additionally pinned in SimilaritySpec, and the exact assign pass
    * is oracled as q99. Ranks ascend by ADC distance (ties to the
    * lower id). */
  def pqTopK(codes: DataFrame, books: DataFrame, queries: DataFrame,
             k: Int, m: Int, dim: Int): DataFrame = {
    val lut = explodeBlocks(queries.withColumnRenamed("vec_id", "query_id"),
        "query_id", "embedding", m, dim)
      .join(books, Seq("block"))
      .select(col("query_id"), col("block"), col("code_id").as("code"),
        l2sq(col("sub"), col("sc_emb")).as("d2"))
    // block-ordered deterministic fold (the q156/q161 discipline,
    // promoted here in round 14): a plain float sum() over the m block
    // rows is addition-order-nondeterministic; folding (block, d2) in
    // block order makes the ADC total — and so the flat-PQ top-k —
    // exactly SQL-replayable, carrying q100's full DuckDB oracle.
    val scored = codes.join(broadcast(lut), Seq("block", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("block"), col("d2")))),
        lit(0.0), (acc, x) => acc + x.getField("d2")).as("adc_d2"))
    Relational.topNPerGroup(
        scored.select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("adc_d2")),
        k, Seq(col("query_id")), -col("adc_d2"), col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
  }

  /** IVF-PQ top-k — the billion-scale ANN composition (FAISS
    * IndexIVFPQ), built from the two tiers already in the engine: the
    * IVF codebook partitions the corpus into cells (q24/q52), and
    * product quantization encodes each vector's RESIDUAL from its
    * cell centroid (q99/q100). Residual encoding is the point of the
    * composition: within a cell the residuals span a fraction of the
    * raw vectors' range, so the same m·c sub-codebook quantizes far
    * more finely than raw-vector PQ — and the PQ sub-codebooks train
    * on residuals accordingly.
    *
    * METRIC ALIGNMENT is the recall-critical design point: cell
    * assignment, cell probing AND the ADC scoring all use squared L2
    * ([[l2Assign]]'s metric, the classical IVFPQ objective) so they
    * agree with the exact-L2 ground truth. A cosine cell probe over
    * an L2 ground truth caps recall at the fraction of L2 neighbors
    * that happen to live in cosine-near cells (~0.5 measured on the
    * gate corpus, irrespective of code length) — the quantizer can't
    * buy back what the probe already discarded.
    *
    * Query path: rank cells by L2, probe `nprobe`, compute the
    * query's OWN residual in each probed cell, build the
    * per-(query, cell) asymmetric-distance table (nprobe·m·c rows per
    * query — driver-tiny, broadcast), and score candidates with an
    * equi-join on (centroid_id, block, code) + one sum aggregate.
    * After the one encode pass the corpus embeddings are never read:
    * at 100 TB the probe touches |corpus|·nprobe/c code rows of m
    * bytes each. Approximate ⇒ no oracle; recall is spec-pinned, and
    * both halves' exact passes are oracled (q52 assign, q99 codes). */
  def ivfPqTopK(vectors: DataFrame, cents: DataFrame, queries: DataFrame,
                k: Int, nprobe: Int, m: Int, c: Int, dim: Int,
                iters: Int = 1): DataFrame = TempDirs.staged { s =>
    val subDim = dim / m
    def resid(e: Column, ce: Column): Column = zip_with(e, ce, (x, y) => x - y)
    val cbs = cents.select(col("centroid_id"), col("c_emb"))
    val assigned = l2Assign(vectors, cents)
    // materialize the residuals ONCE: three consumers (the PQ training
    // sample collect, the encode pass, and the cell join) would each
    // re-run the full IVF assign otherwise. The scope releases them
    // once the result below is spilled — this operator feeds a
    // registered query, which has no unpersist hook
    val residDf = s.cache(assigned.join(broadcast(cbs), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        resid(col("embedding"), col("c_emb")).as("embedding")))
    val books = pqCodebooksTrained(
      residDf.select(col("vec_id"), col("embedding")), m, c, dim, iters)
    val codes = pqAssign(residDf.select("vec_id", "embedding"), books, m, dim)
      .join(residDf.select("vec_id", "centroid_id"), Seq("vec_id"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = Relational.topNPerGroup(
      q.crossJoin(broadcast(cbs))
        .select(col("query_id"), col("q_emb"), col("centroid_id"), col("c_emb"),
          l2sq(col("q_emb"), col("c_emb")).as("c_d2")),
      nprobe, Seq(col("query_id")), -col("c_d2"), col("centroid_id"))
      .select(col("query_id"), col("centroid_id"),
        resid(col("q_emb"), col("c_emb")).as("q_resid"))
    val lut = probes
      .select(col("query_id"), col("centroid_id"),
        explode(array((0 until m).map { b =>
          struct(lit(b).as("block"),
            slice(col("q_resid"), b * subDim + 1, subDim).as("sub"))
        }: _*)).as("bs"))
      .select(col("query_id"), col("centroid_id"),
        col("bs.block").as("block"), col("bs.sub").as("sub"))
      .join(broadcast(books), Seq("block"))
      .select(col("query_id"), col("centroid_id"), col("block"),
        col("code_id").as("code"), l2sq(col("sub"), col("sc_emb")).as("d2"))
    val scored = codes.join(broadcast(lut), Seq("centroid_id", "block", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d2")).as("adc_d2"))
    val top = Relational.topNPerGroup(
        scored.select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_d2")),
        k, Seq(col("query_id")), -col("adc_d2"), col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
    // spill-and-release (TempDirs.spillParquet contract): the top-k
    // result is k rows per query — tiny next to the residual cache,
    // which must not outlive this call into a registered query
    TempDirs.spillParquet(top, "graft_ivfpq_topk_")
  }

  /** Embedding-cosine near-duplicate pairs via the IVF buckets: only
    * vectors sharing a centroid are compared (equi-join on centroid_id,
    * not an O(n²) cross join), then thresholded.
    *
    * Staging: the assignment is cached at MEMORY_AND_DISK to feed both
    * self-join sides and released when the call exits — the
    * thresholded pair set is spilled to a JVM-scoped temp parquet
    * (TempDirs.spillParquet contract), so registered-query callers
    * never inherit a live cache block. */
  def cosineNearDupPairs(assigned: DataFrame, threshold: Double): DataFrame =
      TempDirs.staged { s =>
    // the assignment feeds both sides of the self-join — materialize the
    // IVF index once instead of re-running the whole assign pass per side
    val ix = s.cache(assigned)
    val a = ix.select(col("centroid_id"), col("vec_id").as("a"),
      col("embedding").as("ea"), col("v_norm").as("na"))
    val b = ix.select(col("centroid_id"), col("vec_id").as("b"),
      col("embedding").as("eb"), col("v_norm").as("nb"))
    val pairs = a.join(b, Seq("centroid_id"), "inner")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    TempDirs.spillParquet(pairs, "graft_cosine_pairs_")
  }

  /** MUTUAL nearest-neighbor pairs between two vector groups within
    * shared IVF cells — the core of margin/mutual-NN bitext mining
    * (LASER/CCMatrix shape): a pair (a, b) survives iff b is a's best
    * cross-group candidate AND a is b's. Both groups assign to ONE
    * shared codebook, candidates meet in a plain equi-join on
    * centroid_id (both sides corpus-sized — never broadcast, never
    * O(|A|·|B|); the √n codebook bounds per-cell work exactly as in
    * [[cosineNearDupPairs]]), each side's argmax is a map-side-combined
    * `max_by` hash aggregate (cos desc, lowest id tiebreak — the
    * [[ivfAssign]] convention), and mutuality is one equi-join of the
    * two argmax sets. Candidates are restricted to pairs sharing at
    * least one of each vector's `nprobe` nearest cells — multi-probe,
    * the standard IVF recall lever (home-cell-only loses mutual pairs
    * straddling a cell boundary: measured 0.23 → 0.45 recall on the
    * 50-vector sf0.001 fixture going 1 → 2 probes — a harsh regime,
    * ~6 vectors/cell; raise nprobe where recall matters more than
    * candidate volume) — and the duplicate scored
    * rows a multi-cell collision produces fold in a distinct before
    * the argmax. Recall-vs-exact and the single-cell ≡ exact identity
    * are spec-pinned. A vector sharing no probed cell with the other
    * group yields no pair. */
  def mutualTopOne(a: DataFrame, b: DataFrame, cents: DataFrame,
                   nprobe: Int = 2): DataFrame = TempDirs.staged { s =>
    require(nprobe >= 1, s"nprobe $nprobe must be >= 1")
    val cn = cents.select(col("centroid_id"), col("c_emb"),
      norm(col("c_emb")).as("c_norm"))
    // top-nprobe cells per vector: the per-vector window runs over the
    // n·c scored cross — the same cost class as ivfBatchTopK's probe
    // table, bounded by the √n codebook
    def side(df: DataFrame, idAs: String, embAs: String, normAs: String) = {
      val v = withNorm(df, "vec_id", "embedding", "v_norm")
      Relational.topNPerGroup(
        v.crossJoin(broadcast(cn))
          .select(col("vec_id"), col("embedding"), col("v_norm"), col("centroid_id"),
            (dot(col("embedding"), col("c_emb")) / (col("v_norm") * col("c_norm")))
              .as("c_sim")),
        nprobe, Seq(col("vec_id")), col("c_sim"), col("centroid_id"))
        .select(col("centroid_id"), col("vec_id").as(idAs),
          col("embedding").as(embAs), col("v_norm").as(normAs))
    }
    val scored = s.cache(side(a, "a_id", "ea", "na")
      .join(side(b, "b_id", "eb", "nb"), Seq("centroid_id"), "inner")
      .select(col("a_id"), col("b_id"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos_sim"))
      .distinct()) // a pair may share several probed cells
    val bestForA = scored.groupBy(col("a_id"))
      .agg(max_by(struct(col("b_id"), col("cos_sim")),
        struct(col("cos_sim"), (-col("b_id")).as("nid"))).as("m"))
      .select(col("a_id"), col("m.b_id").as("b_id"), col("m.cos_sim").as("cos_sim"))
    val bestForB = scored.groupBy(col("b_id"))
      .agg(max_by(col("a_id"),
        struct(col("cos_sim"), (-col("a_id")).as("nid"))).as("a_id"))
      .select(col("a_id"), col("b_id"))
    val mutual = bestForA.join(bestForB, Seq("a_id", "b_id"), "left_semi")
    TempDirs.spillParquet(mutual, "graft_mutual_nn_")
  }
}
