package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Staging for operator-internal relations. Two modes:
  *
  *  - [[staged]]: a scope for the relations one call reads more than
  *    once. `cache` (MEMORY_AND_DISK) and `checkpoint` (a local
  *    checkpoint, lazy or eager) stage a relation; `release` frees it
  *    early; whatever the scope still holds is freed, non-blocking,
  *    when the call exits, by return or by exception. No staged block
  *    outlives the call, so a frame the call returns must not depend on
  *    a staged relation.
  *  - [[spillParquet]]: a frame that outlives the call — the converged
  *    output of an iterative operator, a per-round frontier — lands in
  *    a scratch parquet and is read back from the files.
  *
  * Scratch directories ([[scoped]]) are deleted recursively by ONE
  * shutdown hook at JVM exit: `Files.createTempDirectory` alone leaks
  * the dir forever, and a Verify+bench session that builds indexes per
  * invocation accumulated never-deleted /tmp trees (the round-11 q136
  * finding). RegistrySpec tripwires the contract: no persisted RDD
  * survives any registered query's construction.
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

  /** Write `df` to a scoped temp parquet and return the file-backed
    * frame: the staging mode for a frame that outlives the call. The
    * consumers of an operator's result are registered queries with no
    * release hook, so a returned cached or checkpointed frame would
    * squat executor memory for the rest of a 160-query Verify session
    * (the round-10 accreted-state class, 1.7× bench inflation
    * measured). Truncating lineage through STORAGE instead of cache is
    * also the 100 TB shape: land the converged table once, derive every
    * consumer from the files. The write is the materializing action,
    * so a [[staged]] scope may release the relations it read once this
    * returns. */
  def spillParquet(df: DataFrame, prefix: String): DataFrame = {
    val path = s"${scoped(prefix)}/data"
    df.write.parquet(path)
    // read back under the written schema: parquet would infer the same
    // one (nullable), at the cost of a footer-reading job
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Runs `body` with a [[Staged]] scope and releases, non-blocking,
    * every relation the scope still holds when `body` exits: a normal
    * return, an early `return` or an exception alike. */
  def staged[T](body: Staged => T): T = {
    val s = new Staged
    try body(s) finally s.releaseAll()
  }

  /** The staging scope of one operator call. A relation staged here is
    * released when the scope exits, or earlier by [[release]]; its
    * blocks never outlive the call. A frame the call returns must not
    * depend on a staged relation: spill it first ([[spillParquet]]). */
  final class Staged private[TempDirs] () {
    private var held = List.empty[(DataFrame, () => Unit)]

    /** `df.localCheckpoint`: lazy by default, materialized by the first
      * job that reads it, with the plan's SQL metrics kept reachable
      * ([[lazyCheckpoint]]); `eager` materializes it here, one job. */
    def checkpoint(df: DataFrame, eager: Boolean = false): DataFrame = {
      val cp = if (eager) df.localCheckpoint() else lazyCheckpoint(df)
      hold(cp, () => dropCheckpoint(cp))
    }

    /** `df` persisted at MEMORY_AND_DISK, `Dataset.cache`'s level. */
    def cache(df: DataFrame): DataFrame =
      hold(df.persist(StorageLevel.MEMORY_AND_DISK),
        () => { df.unpersist(blocking = false); () })

    /** Releases `df`, staged in this scope, before the scope exits. */
    def release(df: DataFrame): Unit = {
      val (mine, rest) = held.partition(_._1 eq df)
      require(mine.nonEmpty, "release of a relation this scope does not hold")
      held = rest
      mine.foreach(_._2())
    }

    private def hold(df: DataFrame, free: () => Unit): DataFrame = {
      held ::= ((df, free))
      df
    }

    private[TempDirs] def releaseAll(): Unit = {
      val all = held
      held = Nil
      all.foreach(_._2())
    }
  }

  /** Free the storage blocks of a `localCheckpoint`'ed DataFrame:
    * `Dataset.unpersist` only drops CacheManager entries, while
    * localCheckpoint persists the underlying RDD directly. The
    * checkpointed plan is a single `LogicalRDD` holding exactly that
    * RDD. */
  private def dropCheckpoint(df: DataFrame): Unit =
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
  private def lazyCheckpoint(df: DataFrame): DataFrame = {
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
