package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** Central SparkSession factory so Verify / Bench / tests share one
  * config surface.
  *
  * Scale-relevant settings:
  *  - `shuffle.partitions` = cores locally (the 200 default is wrong for
  *    local mode; on a real cluster this is sized to data volume);
  *  - AQE on (runtime coalescing, skew-join splitting, dynamic
  *    broadcast) — the 100 TB safety net;
  *  - `coalescePartitions.parallelismFirst = false` (r17): with the
  *    default `true`, AQE deliberately over-splits every post-shuffle
  *    stage down to ~minPartitionSize (1 MB) chasing idle cores, so a
  *    kilobyte-scale shuffle still schedules `cores` tasks — pure
  *    fixed cost for the maintain/forget folds and the contracted
  *    graph tiers, and the measured reason 8 cores beat 32 on the r16
  *    sweep (job-scheduling floor, not data). `false` makes partition
  *    counts track DATA (the advisory size), the guide-§2 sizing rule;
  *    it is the setting Spark's own AQE docs recommend for production
  *    clusters, not a local[32] constant. The advisory size stays
  *    env-tunable (`SPARK_GRAFT_ADVISORY_PARTITION`, default 8m
  *    locally): CPU-heavy kernels over compact rows (ED verifies,
  *    array intersections) want finer grain than an I/O-bound cluster
  *    ETL's 64-256m — size it to the deployment, the knob is the
  *    contract;
  *  - `legacy.parquet.nanosAsLong` — the events table carries
  *    nanosecond timestamps, which Spark 4 otherwise rejects
  *    (PARQUET_TYPE_ILLEGAL); reading them as int64-nanos also keeps
  *    recency arithmetic exact and oracle-comparable;
  *  - UTC session timezone for oracle parity;
  *  - the `file:` scheme through [[graft.pipeline.ForkFreeLocalFs]],
  *    on both Hadoop client APIs (`FileSystem` for the parquet
  *    writers and readers, `FileContext` for streaming checkpoints and
  *    AtomicTable commits). Without libhadoop the stock local file
  *    system shells out: one `chmod` process per file and directory
  *    written, one `readlink` per rename — thousands of forks per
  *    lakehouse increment or streaming drain, all of it fixed cost;
  *  - `codegen.cache.maxEntries` = 4000 (Spark's default is 100): the
  *    JVM-wide cache of Janino-compiled classes, keyed by the generated
  *    source together with the compiling thread's context class loader
  *    (so a source compiled under two loaders is two entries; see the
  *    CHANGES.md FOUND line on the streaming drain, whose 8 queries
  *    each compile their own copy). At 100 entries the cache is smaller
  *    than one call's own working set, so every repeated call compiles
  *    all of its classes again (about 15 ms each) and the JIT warms
  *    each reloaded class from scratch. Working sets, as distinct
  *    classes compiled over a whole run of the lakehouse benchmark
  *    (counted with `CodegenMetrics`): `er_incremental` (fold, forget,
  *    both compactions, resolved read) 331, `analytics` 188, `ingest`
  *    135 plus the streaming drain; `CodegenReuseSpec`'s ER cycle 319.
  *    `graft.Bench` runs each query's reps back to back, so a rep needs
  *    only its own query's classes (at most 206, q275); at 4000 a
  *    second Bench rep over the registry (sf0.01) compiled only classes
  *    whose source inlines a per-run value, which no cache size
  *    reuses. 4000 is about 12× the largest working set: room for the
  *    dead copies that per-run literals leave (22 per ER cycle with
  *    fresh batch ids), which the cache's least-recently-used eviction
  *    drops first. Cost, measured after a Bench pass that compiled
  *    4 300 classes (`-Xlog:gc+metaspace`, last full GC): metaspace
  *    239 MB with a full 4000-entry cache, 207 MB at 100, so about
  *    32 MB (8 KB a class; each entry pins its own class loader). The
  *    cache is sized once, from the conf active at the JVM's first
  *    codegen (a static SQL conf), so it is a session-creation
  *    constant here, not an option: a later session cannot resize it.
  */
object Sessions {
  def local(cores: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "8m"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
