package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Staging for operator-internal relations: JVM-scoped temp directories
  * for spilled label tables and per-(JVM, fixture) index builds, the
  * materialize-and-release spill, and lazy local checkpoints with their
  * release. `Files.createTempDirectory` alone leaks the dir forever —
  * a Verify+bench session that builds indexes per invocation accumulated never-deleted
  * /tmp trees (the round-11 q136 finding). Everything allocated here is
  * registered with ONE shutdown hook and deleted recursively at JVM
  * exit, so within-session reuse stays cheap and nothing outlives the
  * session.
  */
object TempDirs {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // one hook for all dirs (a hook per dir would pile up threads across
  // a 160-query sweep); lazy so the hook registers on first use only
  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(p => deleteRecursively(p.toFile))
    }, "graft-tempdirs-cleanup"))
  }

  /** A fresh temp dir, deleted recursively when the JVM exits. */
  def scoped(prefix: String): String = {
    hookInstalled
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir.toString
  }

  /** Materialize-and-release: write `df` to a scoped temp parquet and
    * return the file-backed frame. The house discipline for ITERATIVE
    * operators (components, pagerank, prefix doubling, IVF-PQ) whose
    * loop persists rounds internally: the FINAL frame must not be
    * returned persisted/checkpointed, because the consumers are
    * registered queries with no unpersist hook — a leaked block squats
    * executor memory for the rest of a 160-query Verify session (the
    * round-10 accreted-state class, 1.7× bench inflation measured).
    * Truncating lineage through STORAGE instead of cache is also the
    * 100 TB shape: land the converged table once, derive every
    * consumer from the files. RegistrySpec tripwires the invariant
    * (`getPersistentRDDs` empty after each registered query's
    * construction). The caller unpersists its own inputs AFTER this
    * returns (the write is the materializing action). */
  def spillParquet(df: DataFrame, prefix: String): DataFrame = {
    val path = s"${scoped(prefix)}/data"
    df.write.parquet(path)
    // read back under the written schema: parquet would infer the same
    // one (nullable), at the cost of a footer-reading job
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Free the storage blocks of a `localCheckpoint`'ed DataFrame.
    * `Dataset.unpersist` only drops CacheManager entries; localCheckpoint
    * persists the underlying RDD directly, so without this each
    * iteration's MEMORY_AND_DISK blocks would accumulate until the
    * ContextCleaner got around to them — a leak proportional to
    * iteration count on large graphs. The checkpointed plan is a single
    * `LogicalRDD` holding exactly that RDD. */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** `df.localCheckpoint(false)` whose plan's SQL metrics stay
    * reachable for as long as the checkpoint's RDD is. The first job
    * that materializes a lazy checkpoint cuts its lineage when it ends,
    * and with it the driver's last reference to the plan's metrics; a
    * second job already running over the same lineage (two broadcast
    * builds of one relation, the parallel commit writes) still reports
    * updates for them. Once a GC has collected them, the DAGScheduler
    * logs `attempted to access non-existent accumulator` with a stack
    * trace per task and metric, and drops those updates. */
  private[graft] def lazyCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(false)
    val metrics = planMetrics(df)
    checkpointRdd(cp).foreach(metricsOf.put(_, metrics))
    cp
  }

  /** Every SQL metric of `df`'s executed plan, adaptive stages included. */
  private[graft] def planMetrics(df: DataFrame): Seq[AnyRef] =
    PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case p => p.metrics.values.toSeq
    }.flatten

  implicit class LazyCheckpoint(private val df: DataFrame) extends AnyVal {
    def lazyCheckpoint(): DataFrame = TempDirs.lazyCheckpoint(df)
  }

  private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** checkpoint RDD → its plan's metrics; an entry lives as long as its RDD */
  private val metricsOf = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[_], Seq[AnyRef]]())

  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}
