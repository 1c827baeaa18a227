package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints a human summary line followed by ONE bounded JSON line (total,
  * slowest-30 + errored queries); the complete per-query/per-rep record
  * is written to target/bench_last.json.
  *
  * The action is a `noop`-format write: every output column is fully
  * computed and serialized into the sink's row iterator, but nothing
  * hits disk. A bare `count()` would let Catalyst's ColumnPruning drop
  * every deterministic projection — for map-only queries that "bench"
  * would time a parquet row count, not the expressions under test.
  *
  * Two measurement rules (both judge-driven, round 3):
  *  - REPS: each query runs `SPARK_GRAFT_BENCH_REPS` times (default 3)
  *    and the reported number is the MIN — single-rep wall-clock on a
  *    shared box drifted untouched scalar queries by up to 7× between
  *    rounds; the min is the least-noise estimator of plan cost. All
  *    reps land in `target/bench_last.json` (`reps` field) for variance
  *    audit; the stdout line omits them (and rounds to 4 dp) so the
  *    driver's bounded stdout tail captures the whole JSON line. Since
  *    round 6 the cache is cleared between reps (see the loop), so each
  *    rep is the COLD per-invocation cost — what one production run of
  *    the operator pays — not a warm-cache replay of rep 1's persisted
  *    index. Totals from rounds ≤5 (~44 s at sf0.1) measured the warm
  *    path for the persist-carrying dedup/ANN queries; the cold total
  *    (~49 s on a quiet box) is the comparable figure going forward,
  *    and the thing the old numbers hid (rep-on-rep degradation from
  *    accreted blocks, q78 2.4→10.1 s) is fixed — reps are now flat.
  *  - PROD TWINS: a query named `X` is skipped when `X_prod` is
  *    registered — the md5-hash forms exist so the DuckDB oracle can
  *    reproduce every value, but MessageDigest-per-row is not the plan
  *    you'd ship; the `_prod` twin times the production hash. Skips are
  *    listed in `oracle_twins_skipped`.
  *
  * Each rep's codegen work lands in the record too: `codegen_compiles`
  * (classes Janino compiled during the rep, from the JVM-wide
  * `CodegenMetrics` compilation histogram) and `codegen_ms` (their
  * compile time, from `CodeGenerator.compileTime`), per query and rep.
  * A rep that reuses the previous rep's classes compiles none.
  *
  * A query that throws is recorded as -1 (a timing can never be
  * negative, so failures are unmistakable in the emitted JSON) and
  * listed in an `errors` field.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Sessions.local(cpus)
    // SPARK_GRAFT_BENCH_ONLY=<regex>: time only matching queries (local
    // iteration on one operator without paying the full sweep)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    val registry = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.findFirstIn(n).isDefined) }
    val skipped = registry.keys.filter(n => registry.contains(n + "_prod")).toSeq.sorted
    // warm-up, unmeasured: class loading, JIT and parquet footer reads
    // on one query. It does not keep codegen out of the timed reps:
    // every query's first rep compiles its own classes (codegen_compiles),
    // and later reps reuse them only while the codegen cache holds them
    // (at Spark's 100-entry default it did not; Sessions sizes it)
    try registry.get("q02_monthly_sales")
      .foreach(_(spark, sfDir).write.format("noop").mode("overwrite").save())
    catch { case _: Throwable => () }
    val runs = registry.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skipped.contains(name) }
      .map { case (name, fn) =>
        name -> (1 to reps).map { _ =>
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val ns0 = CodeGenerator.compileTime
          val t0 = System.nanoTime()
          val dt =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                  (System.nanoTime() - t0) / 1e9 }
            catch { case _: Throwable => -1.0 }
          // free operator-internal persisted indexes (Dedup/Similarity own
          // a MEMORY_AND_DISK block per invocation — see their lifecycle
          // note) AFTER the clock stops: each rep then measures the same
          // cold-cache plan instead of degrading under accreted blocks
          spark.catalog.clearCache()
          // ...and give the ContextCleaner its GC trigger: broadcast
          // blocks, localCheckpoint RDD blocks and shuffle files are
          // only released when their JVM references are collected, and
          // with a 100+ GB heap that can lag MINUTES behind — measured
          // at sf1.0, late-in-sweep components queries ran up to 1.7x
          // their solo wall purely from accreted earlier-query state.
          // An explicit gc per rep keeps every query's measurement
          // independent of its position in the sweep.
          System.gc()
          (dt, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
            (CodeGenerator.compileTime - ns0) / 1e6)
        }
      }
    val results = runs.map { case (k, rs) => k -> rs.map(_._1) }
    def best(ts: Seq[Double]): Double = if (ts.exists(_ < 0)) -1.0 else ts.min
    def r4(x: Double): String =
      if (x < 0) "-1" else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, ts) => "\"" + k + "\":" + r4(best(ts)) }
      .mkString("{", ",", "}")
    // one array per query, one entry per rep: (wall s, compiles, compile ms)
    def perRep(f: ((Double, Long, Double)) => String): String =
      runs.map { case (k, rs) => "\"" + k + "\":" + rs.map(f).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    val errors = results.collect { case (k, ts) if best(ts) < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(r => best(r._2)).filter(_ >= 0).sum
    val nErrors = results.count(r => best(r._2) < 0)
    // The driver keeps only the last ~2 KB of stdout; the full 120-query
    // map (~4 KB) no longer fits, which is how round 8 lost its total.
    // stdout therefore carries a BOUNDED line — the slowest TOP_N queries
    // plus every error, with the omission count stated (no silent caps) —
    // and the complete record (all queries + per-rep arrays) goes to
    // target/bench_last.json. `total_sec` is repeated as the LAST field
    // so even a head-clipped capture still ends with the headline number.
    val TopN = 30
    val top = results
      .filter { case (_, ts) => best(ts) >= 0 }
      .sortBy { case (_, ts) => -best(ts) }
      .take(TopN)
    val withErrs = (top ++ results.filter { case (_, ts) => best(ts) < 0 })
      .sortBy(_._1)
    val qsTop = withErrs.map { case (k, ts) => "\"" + k + "\":" + r4(best(ts)) }
      .mkString("{", ",", "}")
    val outFile = java.nio.file.Paths.get("target/bench_last.json").toAbsolutePath
    // n_errors travels next to the total so a round-over-round total
    // comparison can't silently absorb a newly failing (excluded) query
    val head = s""""metric":"total","value":${r4(total)},"unit":"sec","n_queries":${results.size}"""
    // provenance stamp: git HEAD + any subset filter. PlanAudit's budget
    // gate refuses to compare a record from different code or a partial
    // sweep (skip-with-reason instead of a spurious pass/fail).
    val stamp = {
      val h = PlanAudit.gitHead()
      val o = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(f => s""","bench_only":"${f.replace("\\", "\\\\").replace("\"", "\\\"")}"""")
        .getOrElse("")
      (if (h.nonEmpty) s""""git_head":"$h",""" else "") + s""""reps_per_query":$reps$o"""
    }
    val tail = s"""$stamp,"oracle_twins_skipped":$skippedJson,"errors":$errors,"n_errors":$nErrors,"sf":"$sfDir""""
    println(s"BENCH total=${r4(total)} sec n_queries=${results.size} n_errors=$nErrors full_record=$outFile")
    println(s"""{$head,"queries":$qsTop,"queries_omitted":${results.size - withErrs.size},"file":"$outFile",$tail,"total_sec":${r4(total)}}""")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_last.json"),
      (s"""{$head,"queries":$qs,"reps":${perRep(r => r4(r._1))},""" +
        s""""codegen_compiles":${perRep(_._2.toString)},"codegen_ms":${perRep(r => r4(r._3))},""" +
        s"""$tail,"total_sec":${r4(total)}}""" + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
