package graft

import org.apache.spark.sql.functions._

import graft.operators.IncrementalEr

/** Round-16 ER artifact lifecycle: base/variant compaction with
  * re-bucketing ([[IncrementalEr.compactBase]] / [[IncrementalEr
  * .vacuumBase]]), time travel ([[IncrementalEr.resolvedAsOf]]), the
  * audit diff ([[IncrementalEr.labelDiff]]), the every-id-consumed
  * contract on EMPTY batches, and the pre-r16-layout fail-loudly
  * guard. The q275-q277 registrations gate the same machinery against
  * DuckDB oracles at sf0.01; these pin the crafted edges (bit-equality
  * across compaction, diff shapes, mixed-modulus probes) the fixture
  * can't guarantee to exercise. */
class ErLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def cust(rows: Seq[(Long, String, Long)]) =
    rows.toDF("c_custkey", "c_name", "c_nationkey")

  private def served(dir: String): Map[Long, Long] =
    IncrementalEr.resolved(spark, dir)
      .select("c_custkey", "canonical_id")
      .as[(Long, Long)].collect().toMap

  test("compactBase: resolved bit-equal, vacuum prunes delta partitions, " +
      "later folds and forgets probe the re-bucketed snapshot") {
    val root = graft.pipeline.TempDirs.scoped("graft_ercb_")
    val dir = s"$root/er"
    val twin = s"$root/twin"
    // identical folds on both artifacts; only `dir` is compacted
    def foldBoth(rows: Seq[(Long, String, Long)], id: Long): Unit = {
      IncrementalEr.maintainBatch(dir)(cust(rows), id)
      IncrementalEr.maintainBatch(twin)(cust(rows), id)
    }
    foldBoth(Seq((10L, "cat", 1L), (30L, "dog", 1L), (40L, "aaa", 1L)), 0L)
    foldBoth(Seq((5L, "bat", 1L), (31L, "dog", 1L), (41L, "aab", 1L)), 1L)
    val before = served(dir)
    // re-bucket at compaction: deliberately odd counts so any modulus
    // mixup between the snapshot and delta tiers would mis-prune
    IncrementalEr.compactBase(spark, dir, 2L, newBuckets = Some((5, 7)))
    assert(served(dir) === before)
    // vacuum drops the pre-snapshot base/variant partitions wholesale
    IncrementalEr.vacuumBase(spark, dir)
    assert(!new java.io.File(s"$dir/base/_er_batch=0").exists())
    assert(!new java.io.File(s"$dir/base/_er_batch=1").exists())
    assert(new java.io.File(s"$dir/base/_er_batch=2").exists())
    assert(served(dir) === before)
    // the snapshot generation is bucketed under ITS moduli (wb < 5)
    val wbs = spark.read.parquet(s"$dir/base").select("wb")
      .distinct().as[Int].collect().toSet
    assert(wbs.forall(b => b >= 0 && b < 5))
    // a later fold probes the snapshot (snapshot modulus) plus its own
    // delta tier — rat links to standing bat/cat through the compacted
    // index; the uncompacted twin must agree exactly
    IncrementalEr.maintainBatch(dir)(cust(Seq((3L, "rat", 1L))), 3L)
    IncrementalEr.maintainBatch(twin)(cust(Seq((3L, "rat", 1L))), 3L)
    assert(served(dir) === served(twin))
    // and a forget spanning snapshot + delta partitions (bat lives in
    // the snapshot, rat in a delta) rewrites each under its own modulus
    IncrementalEr.forget(spark, dir, Seq(5L, 3L).toDF("c_custkey"), 4L)
    IncrementalEr.forget(spark, twin, Seq(5L, 3L).toDF("c_custkey"), 4L)
    assert(served(dir) === served(twin))
    val wbs2 = spark.read.parquet(s"$dir/base")
      .filter($"_er_batch" === 2L).select("wb").distinct().as[Int].collect().toSet
    assert(wbs2.forall(b => b >= 0 && b < 5))
  }

  test("compactBase targetRowsPerBucket grows the bucket count with live rows") {
    val dir = graft.pipeline.TempDirs.scoped("graft_ercbt_") + "/er"
    val rows = (0L until 200L).map(i => (i, s"name$i", i % 3))
    IncrementalEr.maintainBatch(dir)(cust(rows), 0L)
    val before = served(dir)
    // 200 base rows / 10 per bucket → 20 base buckets (> the 16 delta
    // default); variants grow likewise
    IncrementalEr.compactBase(spark, dir, 1L, targetRowsPerBucket = Some(10L))
    assert(served(dir) === before)
    val nWb = spark.read.parquet(s"$dir/base")
      .filter($"_er_batch" === 1L).select("wb").distinct().count()
    assert(nWb > 16 && nWb <= 20)
  }

  test("resolvedAsOf: each committed version re-served from its partition window") {
    val dir = graft.pipeline.TempDirs.scoped("graft_erasof_") + "/er"
    IncrementalEr.maintainBatch(dir)(cust(Seq((10L, "cat", 1L), (30L, "dog", 1L))), 0L)
    IncrementalEr.maintainBatch(dir)(cust(Seq((5L, "bat", 1L))), 1L)
    IncrementalEr.forget(spark, dir, Seq(30L).toDF("c_custkey"), 2L)
    def asOf(id: Long): Map[Long, Long] =
      IncrementalEr.resolvedAsOf(spark, dir, id)
        .select("c_custkey", "canonical_id").as[(Long, Long)].collect().toMap
    assert(asOf(0L) === Map(10L -> 10L, 30L -> 30L))
    // bat links cat; canonical moves 10 → 5 at version 1
    assert(asOf(1L) === Map(10L -> 5L, 5L -> 5L, 30L -> 30L))
    assert(asOf(2L) === Map(10L -> 5L, 5L -> 5L))
    // a label compaction changes no version's answer, before or after
    IncrementalEr.compact(spark, dir, 3L)
    assert(asOf(1L) === Map(10L -> 5L, 5L -> 5L, 30L -> 30L))
    assert(asOf(3L) === asOf(2L))
    intercept[IllegalArgumentException] {
      IncrementalEr.resolvedAsOf(spark, dir, -1L)
    }
  }

  test("labelDiff: arrivals NULL→new, moves old→new, forgets new→NULL; " +
      "snapshot partitions are not changes") {
    val dir = graft.pipeline.TempDirs.scoped("graft_erdiff_") + "/er"
    IncrementalEr.maintainBatch(dir)(cust(Seq((10L, "cat", 1L), (30L, "dog", 1L))), 0L)
    IncrementalEr.maintainBatch(dir)(cust(Seq((5L, "bat", 1L))), 1L)
    IncrementalEr.forget(spark, dir, Seq(30L).toDF("c_custkey"), 2L)
    def diff(from: Long, to: Long): Map[Long, (Option[Long], Option[Long])] =
      IncrementalEr.labelDiff(spark, dir, from, to).collect().map { r =>
        r.getLong(0) -> (Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]))
      }.toMap
    // before-history → v0: everything is an arrival
    assert(diff(-1L, 0L) === Map(
      10L -> (None, Some(10L)), 30L -> (None, Some(30L))))
    // v0 → v1: bat arrives, cat's canonical moves; dog unchanged
    assert(diff(0L, 1L) === Map(
      5L -> (None, Some(5L)), 10L -> (Some(10L), Some(5L))))
    // v1 → v2: dog forgotten
    assert(diff(1L, 2L) === Map(30L -> (Some(30L), None)))
    // the whole window composes
    assert(diff(-1L, 2L) === Map(
      10L -> (None, Some(5L)), 5L -> (None, Some(5L))))
    // a compaction commit rewrites every assignment but changes none
    IncrementalEr.compact(spark, dir, 3L)
    assert(diff(2L, 3L) === Map.empty)
  }

  test("empty maintain batch durably consumes its commit id") {
    val dir = graft.pipeline.TempDirs.scoped("graft_erempty_") + "/er"
    val empty = cust(Seq.empty)
    // empty FIRST batch: id consumed, layout created, artifact serves later
    IncrementalEr.maintainBatch(dir)(empty, 0L)
    assert(IncrementalEr.lastCommitted(spark, dir) === Some(0L))
    IncrementalEr.maintainBatch(dir)(cust(Seq((10L, "cat", 1L))), 1L)
    // empty batch against standing state: id consumed
    IncrementalEr.maintainBatch(dir)(empty, 2L)
    assert(IncrementalEr.lastCommitted(spark, dir) === Some(2L))
    // a replay under the consumed empty id cannot commit real work
    IncrementalEr.maintainBatch(dir)(cust(Seq((50L, "dog", 1L))), 2L)
    assert(served(dir) === Map(10L -> 10L))
    // same for an empty forget
    IncrementalEr.forget(spark, dir, spark.range(0).select($"id".as("c_custkey")), 3L)
    assert(IncrementalEr.lastCommitted(spark, dir) === Some(3L))
  }

  test("contracted-graph fold: star contraction (cap 0) == driver union-find " +
      "over 3 batches: resolved, labels/ and members/ rows") {
    val root = graft.pipeline.TempDirs.scoped("graft_ercap_")
    // batch 1 links an arrival to each standing cluster; batch 2 links
    // arrivals that BRIDGE standing clusters, so standing members move
    val batches = Seq(
      Seq((10L, "cat", 1L), (30L, "dog", 1L), (40L, "aaa", 1L), (60L, "fig", 2L)),
      Seq((5L, "bat", 1L), (31L, "dot", 1L), (41L, "aab", 1L), (61L, "fog", 2L)),
      Seq((3L, "bot", 1L), (42L, "aac", 1L), (7L, "fog", 2L), (8L, "fig", 2L)))
    def run(cap: Long): String = {
      val dir = s"$root/cap$cap"
      batches.zipWithIndex.foreach { case (rows, id) =>
        IncrementalEr.maintainUnder(dir, cap)(cust(rows), id.toLong)
      }
      dir
    }
    def rows(dir: String, table: String) =
      spark.read.parquet(s"$dir/$table").collect().map(_.toSeq).toSet
    val (star, local) = (run(0L), run(graft.operators.LocalGraph.MaxRows))
    // bot bridges the bat/cat and dog/dot clusters: their members move
    assert(served(local)(30L) === 3L && served(local)(10L) === 3L)
    assert(served(star) === served(local))
    assert(rows(star, "labels") === rows(local, "labels"))
    assert(rows(star, "members") === rows(local, "members"))
  }

  test("a maintain whose commit write fails throws, commits nothing and " +
      "leaves no staged blocks") {
    val dir = graft.pipeline.TempDirs.scoped("graft_erfail_") + "/er"
    new java.io.File(dir).mkdirs()
    // a regular file where the fresh artifact's base/ directory goes
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/base"), Array[Byte](1))
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = sc.getPersistentRDDs.keySet.toSet
    intercept[Exception] {
      IncrementalEr.maintainBatch(dir)(
        cust(Seq((10L, "cat", 1L), (11L, "cot", 1L), (30L, "dog", 1L))), 0L)
    }
    assert(IncrementalEr.lastCommitted(spark, dir) === None)
    assert(sc.getPersistentRDDs.keySet.toSet === before)
  }

  test("bucketOfLong: driver-side pmod(xxhash64(v), m) is bit-identical " +
      "to the column expression (the r17 residue-set fast path)") {
    // adversarial values: negative ids, extremes, small/large — any
    // divergence here would silently mis-prune a bucketed read
    val vals = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, 2L,
      41L, 42L, 1337L, Int.MaxValue.toLong, Long.MaxValue - 1, Long.MaxValue) ++
      (0 until 500).map(i => i * 2654435761L - 1234567L)
    for (m <- Seq(1, 2, 7, 16, 31, 1024)) {
      val viaSpark = vals.toDF("v")
        .select(col("v"), pmod(xxhash64(col("v")), lit(m)).cast("int").as("b"))
        .as[(Long, Int)].collect().toMap
      vals.foreach { v =>
        assert(IncrementalEr.bucketOfLong(v, m) === viaSpark(v),
          s"bucketOfLong($v, $m)")
      }
    }
  }

  test("a lazy checkpoint keeps its plan's metrics past the job that materializes it") {
    import graft.pipeline.TempDirs
    TempDirs.staged { st =>
      // the checkpointed plan itself is unreachable once this returns
      def checkpointed() = {
        val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        val cp = st.checkpoint(df)
        (cp, TempDirs.planMetrics(df).map(new java.lang.ref.WeakReference(_)))
      }
      val (cp, metrics) = checkpointed()
      // the first job over the checkpoint cuts its lineage; a second job
      // already running over that lineage still reports these metrics
      assert(cp.count() === 7)
      System.gc()
      val collected = metrics.count(_.get == null)
      assert(metrics.nonEmpty && collected == 0, s"$collected of ${metrics.size} metrics collected")
    }
  }

  test("a maintain + forget cycle loses no task metric updates") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-lost-accumulators", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val text = e.getMessage.getFormattedMessage +
          Option(e.getThrown).map(t => " " + t.getMessage).getOrElse("")
        if (text.contains("non-existent accumulator")) lost.add(text)
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    // back-to-back GCs: a metric the driver lets go of while its tasks
    // still run is collected before they report
    @volatile var busy = true
    val gc = new Thread(() => while (busy) { System.gc(); Thread.sleep(20) })
    gc.setDaemon(true)
    try {
      gc.start()
      val dir = graft.pipeline.TempDirs.scoped("graft_eracc_") + "/er"
      // names one digit apart within a nation cluster, as in the fixtures
      val rows = (0L until 1500L).map(i => (i, f"Customer#$i%09d", i % 25))
      IncrementalEr.maintainBatch(dir)(cust(rows.filter(_._1 % 8 != 7)), 0L)
      IncrementalEr.maintainBatch(dir)(cust(rows.filter(_._1 % 8 == 7)), 1L)
      IncrementalEr.forget(spark, dir, rows.filter(_._1 % 50 == 3).map(_._1).toDF("c_custkey"), 2L)
      assert(served(dir).size === 1500 - 30)
    } finally {
      busy = false
      gc.join()
      ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    assert(lost.isEmpty, s"${lost.size} lost accumulator updates, first: ${lost.peek}")
  }

  test("pre-r16 artifact (commits but no layout marker) fails loudly") {
    val dir = graft.pipeline.TempDirs.scoped("graft_erold_") + "/er"
    // simulate a pre-r16 artifact: a commit marker with no layout marker
    val labels = java.nio.file.Paths.get(s"$dir/labels")
    java.nio.file.Files.createDirectories(labels)
    java.nio.file.Files.createFile(labels.resolve("_er_commit_0"))
    val e = intercept[IllegalStateException] {
      IncrementalEr.maintainBatch(dir)(cust(Seq((1L, "cat", 1L))), 1L)
    }
    assert(e.getMessage.contains("pre-r16"))
    intercept[IllegalStateException] {
      IncrementalEr.resolved(spark, dir).collect()
    }
  }

  test("maintainBatch and forget tag their jobs with their phase, pooled writers " +
      "included, and give the caller its description back") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val dir = graft.pipeline.TempDirs.scoped("graft_erphase_") + "/er"
      sc.setJobDescription("caller")
      IncrementalEr.maintainBatch(dir)(cust(Seq((10L, "cat", 1L), (30L, "dog", 1L))), 0L)
      IncrementalEr.maintainBatch(dir)(cust(Seq((11L, "cat", 1L))), 1L)
      IncrementalEr.forget(spark, dir, Seq(10L).toDF("c_custkey"), 2L)
      spark.range(1).count()
      sc.setJobDescription("last")
      spark.range(1).count()
      // events arrive in submission order: once the last job is seen,
      // every earlier one is too
      val deadline = System.nanoTime() + 60e9.toLong
      while (!seen.contains("last") && System.nanoTime() < deadline) Thread.sleep(50)
      val descs = seen.toArray(Array.empty[String]).toSeq
      // the commit writes run on the pooled writer threads
      Seq("IncrementalEr.maintainBatch: arrivals", "IncrementalEr.maintainBatch: commit",
          "IncrementalEr.forget: locate", "IncrementalEr.forget: rewrites",
          "IncrementalEr.forget: labels").foreach(d => assert(descs.contains(d), d))
      // the job after the ER calls carries the caller's description
      assert(descs.takeWhile(_ != "last").last === "caller", descs)
      assert(descs.forall(d => d.startsWith("IncrementalEr.") || d == "caller" || d == "last"),
        descs)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
