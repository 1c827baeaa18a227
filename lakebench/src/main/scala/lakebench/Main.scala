package lakebench

import java.nio.file.{Files, Paths}

/** Benchmark entry point for one workload run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --run <dir> --trace-file <file>
  *
  * Set-up (session, input generation, warm-up) is timed as `setup_s`;
  * then whole rounds repeat until `--seconds` have passed. The run's
  * figures go to `<run>/result.json`, and what the outputs are checked
  * against goes to `<run>/check/`; `run.py` does the checking. With
  * `--trace 1` every call into the program is a span with Spark and
  * JVM counters, written to `--trace-file`, and the result holds the
  * per-layer figures instead of the end-to-end ones.
  */
object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[lakebench ${(System.nanoTime() - born) / 1e9}%7.1fs] $msg")

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opt("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val run = Paths.get(opt("run")).toAbsolutePath
    val check = Files.createDirectories(run.resolve("check"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = graft.Sessions.local(cores.toString)
    val scratch = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val probe = new Probe(spark, traced, scratch)
    val tally = new Tally
    val w = Workload(name, spark, seed, run, probe, tally)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val genS = time(w.generate(w.inputs))
    log(f"session ${sessionS}%.1f s, inputs ${genS}%.1f s")
    val warmS = time(w.warmUp(check))
    log(f"warm-up ${warmS}%.1f s")
    // counts from here on belong to the timed rounds only
    tally.attempted = 0
    tally.failed = 0
    tally.values.clear()
    probe.spans.clear()
    spark.catalog.clearCache()
    System.gc()
    probe.resetHeapPeak()
    val setupS = sessionS + genS + warmS

    val roundS = scala.collection.mutable.ArrayBuffer[Double]()
    val written = scala.collection.mutable.ArrayBuffer[Double]()
    val start = System.nanoTime()
    var r = 0
    // whole rounds only, and none that would end past `seconds`
    while (r == 0 || (System.nanoTime() - start) / 1e9 + roundS.last <= seconds) {
      if (r > 0) {
        w.discard(r - 1)
        // the Bench hygiene: release cached blocks and let the
        // ContextCleaner drop shuffle and broadcast state between rounds
        spark.catalog.clearCache()
        System.gc()
      }
      w.prepare(r)
      roundS += time(probe.span("round")(w.round(r)))
      val bytes = w.written(r)
      written += bytes.toDouble
      log(f"round $r: ${roundS.last}%.2f s, $bytes bytes")
      r += 1
    }
    w.writeCheck(r - 1, check)
    val heap = probe.heapPeak()

    val metrics: Seq[(String, Double)] =
      if (!traced) Seq("setup_s" -> setupS, "round_s" -> median(roundS.toSeq),
        "written_bytes" -> median(written.toSeq))
      else PerLayer(probe, tally, heap)
    if (traced) Files.writeString(Paths.get(opt("trace-file")), probe.toJson)
    val m = metrics.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    Files.writeString(run.resolve("result.json"),
      s"""{"workload":"$name","seed":$seed,"rounds":$r,"attempted":${tally.attempted},""" +
        s""""failed":${tally.failed},"setup_s":$setupS,"round_s":${roundS.mkString("[", ",", "]")},""" +
        s""""metrics":$m}""" + "\n")
    spark.stop()
  }
}

/** The traced run's per-layer figures, named after the program's
  * modules. Spark, JVM and plan figures are per round; operation
  * figures are medians over the operations of all rounds. A figure of
  * a layer the workload does not run is 0. */
object PerLayer {
  import Main.median

  val SqlQueries: Seq[String] = Seq("q01", "q02", "q263")
  val GraphQueries: Seq[String] = Seq("q104", "q190", "q206", "q217")

  def apply(p: Probe, t: Tally, heapPeak: Long): Seq[(String, Double)] = {
    val rounds = p.named("round")
    def perRound(i: Int, scale: Double = 1.0) = median(rounds.map(_.delta(i) / scale))
    def secs(span: String) = median(p.named(span).map(_.seconds))
    def count(span: String, i: Int) = median(p.named(span).map(_.delta(i).toDouble))
    def extra(k: String) = median(t.values.getOrElse(k, Nil).toSeq)
    val spark = Seq(
      "spark.jobs" -> perRound(C.Jobs), "spark.stages" -> perRound(C.Stages),
      "spark.tasks" -> perRound(C.Tasks),
      "spark.shuffle_write_bytes" -> perRound(C.ShuffleWrite),
      "spark.shuffle_read_bytes" -> perRound(C.ShuffleRead),
      "spark.spill_bytes" -> perRound(C.Spill), "spark.input_bytes" -> perRound(C.Input),
      "spark.result_bytes" -> perRound(C.Result),
      "spark.task_run_s" -> perRound(C.TaskRunMs, 1e3),
      "spark.task_cpu_s" -> perRound(C.TaskCpuNs, 1e9),
      "jvm.gc_s" -> perRound(C.GcMs, 1e3), "jvm.heap_peak_bytes" -> heapPeak.toDouble,
      "plans.plan_s" -> perRound(C.PlanMs, 1e3),
      "stage.scratch_bytes" -> perRound(C.ScratchBytes))
    val etl = Seq(
      "etl.increment_s" -> secs("etl.increment"),
      "pipeline.bronze_load_s" -> secs("pipeline.bronze_load"),
      "pipeline.bronze_load_jobs" -> count("pipeline.bronze_load", C.Jobs),
      "pipeline.silver_commit_s" -> secs("pipeline.silver_commit"),
      "pipeline.gold_commit_s" -> secs("pipeline.gold_commit"),
      "pipeline.files_written" -> extra("pipeline.files_written"),
      "etl.bytes_written" -> extra("etl.bytes_written"))
    val er = Seq(
      "er.fold_s" -> secs("er.fold"), "er.forget_s" -> secs("er.forget"),
      "er.maintain_jobs" -> count("er.fold", C.Jobs),
      "er.forget_jobs" -> count("er.forget", C.Jobs),
      "er.fold_input_bytes" -> count("er.fold", C.Input),
      "er.fold_result_bytes" -> count("er.fold", C.Result),
      "er.compact_s" -> secs("er.compact"), "er.resolve_s" -> secs("er.resolve"),
      "er.commit_bytes" -> extra("er.commit_bytes"))
    val analytics = Seq(
      "analytics.sql_pass_s" -> secs("analytics.sql_pass"),
      "analytics.graph_pass_s" -> secs("analytics.graph_pass")) ++
      SqlQueries.flatMap(q => Seq(s"sql.${q}_s" -> secs(s"sql.$q"),
        s"sql.${q}_jobs" -> count(s"sql.$q", C.Jobs))) ++
      GraphQueries.flatMap(q => Seq(s"graph.${q}_s" -> secs(s"graph.$q"),
        s"graph.${q}_jobs" -> count(s"graph.$q", C.Jobs)))
    val streaming = Seq("events_per_s", "bronze_busy_s", "kv_busy_s", "rerank_busy_s",
      "batches", "input_rows").map(k => s"streaming.$k" -> extra(s"streaming.$k"))
    spark ++ etl ++ er ++ analytics ++ streaming
  }
}
