package graft

import org.apache.spark.sql.functions._

import graft.functions.{Similarity, VectorIndex}
import graft.pipeline.TempDirs

/** Recall-vs-nprobe curve for the PERSISTED IVF-PQ serving tier
  * (r14 verdict item 8): the q156/q161 serving path
  * ([[VectorIndex.pqTopKFromIndex]] — frozen codebook, frozen books,
  * committed codes; nothing trains at query time) probed at
  * nprobe ∈ {1, 2, 5, 10, 23}, each point measuring
  *
  *  - recall@10 against the exact cosine top-10 (the tier's own target
  *    metric — [[Similarity.bruteForceTopK]] over the same corpus), and
  *  - serving wall (min of 3 reps; the build is outside the window),
  *
  * so the serving tier's cost/recall knob is DOCUMENTED the way the
  * scaling sweep documents wall-vs-corpus — an operator of the 100 TB
  * deployment reads this table to pick nprobe, instead of guessing.
  * At scale the probe cost is |corpus|·nprobe/cells code rows of m
  * bytes, so wall should climb ~linearly in nprobe while recall
  * saturates once the true neighbors' cells are covered; the knee is
  * the operating point. SimilaritySpec pins the floor (recall
  * monotone-ish: max-probe ≥ single-probe, and ≥ the documented
  * floor) on the deterministic spec corpus.
  *
  * Since r16 the sweep also walks the QUANTIZER axis — m ∈ {4, 8, 16}
  * subvectors × nprobe ∈ {1, 2, 5} (plus the legacy deep-nprobe curve
  * at m = 4): the r15 measurement showed nprobe barely moves recall at
  * m = 4 (the quantizer, not cell coverage, is the ceiling), so the
  * knob an operator actually turns is m, and its measured
  * recall/cost curve belongs next to nprobe's. Per-code bytes scale
  * with m, so the table reads as recall vs index size vs wall.
  *
  * Usage: runMain graft.AnnRecall  (sf0.1 embeddings, 2000 × 64-dim;
  * one index per m in a temp dir). Emits one JSON line per (m, nprobe)
  * and writes target/ann_recall.json.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val base = "/root/testdata/sf0.1"
    val (dim, k, nQueries) = (64, 10, 50)
    val out = new StringBuilder
    TempDirs.staged { st =>
      val vecs = st.cache(Tables.embeddings(spark, base))
      val n = vecs.count()
      val cells = Similarity.codebookSize(n)
      val queries = vecs.filter(col("vec_id") < nQueries)
      val exact = Similarity.bruteForceTopK(vecs, queries, k)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (m <- Seq(4, 8, 16)) {
        val dir = TempDirs.scoped(s"graft_annrecall_m${m}_")
        VectorIndex.build(vecs, dir, trained = true)
        VectorIndex.buildPq(spark, dir, m = m, c = 64, dim = dim,
          trained = true, iters = 2)
        val nprobes = if (m == 4) Seq(1, 2, 5, 10, 23) else Seq(1, 2, 5)
        for (nprobe <- nprobes) {
          def runAdc() = VectorIndex.pqTopKFromIndex(spark, dir, queries,
            k = k, nprobe = nprobe, m = m, dim = dim)
            .select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          def runRefined() = VectorIndex.pqTopKRefined(spark, dir, queries, vecs,
            k = k, rerank = 30, nprobe = nprobe, m = m, dim = dim)
            .select("query_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val adc = runAdc() // warm (plans compile outside the window)
          val refined = runRefined()
          def minWall(f: () => Unit): Double = (0 until 3).map { _ =>
            System.gc()
            val t0 = System.nanoTime()
            f()
            (System.nanoTime() - t0) / 1e9
          }.min
          val wAdc = minWall(() => runAdc())
          val wRef = minWall(() => runRefined())
          val rAdc = (exact intersect adc).size.toDouble / exact.size
          val rRef = (exact intersect refined).size.toDouble / exact.size
          val line = s"""{"nprobe":$nprobe,"cells":$cells,""" +
            s""""adc_recall_at_$k":${f"$rAdc%.3f"},"adc_wall_s":${f"$wAdc%.3f"},""" +
            s""""refined_recall_at_$k":${f"$rRef%.3f"},"refined_wall_s":${f"$wRef%.3f"},""" +
            s""""n":$n,"m":$m,"rerank":30,"queries":$nQueries}"""
          println(s"ANNRECALL $line")
          out.append(line).append('\n')
        }
      }
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/ann_recall.json"),
      out.toString.getBytes("UTF-8"))
    println("[annrecall] wrote target/ann_recall.json")
    spark.stop()
  }
}
