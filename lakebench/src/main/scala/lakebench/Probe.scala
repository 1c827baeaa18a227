package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLongArray

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.LakebenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counter slots recorded at every span boundary. */
object C {
  val Jobs = 0; val Stages = 1; val Tasks = 2; val ShuffleWrite = 3
  val ShuffleRead = 4; val Spill = 5; val Input = 6; val Result = 7
  val TaskRunMs = 8; val TaskCpuNs = 9; val PlanMs = 10; val GcMs = 11
  val ScratchBytes = 12
  val N = 13
}

/** One traced call: name, wall interval, the span that caused it (-1 at
  * top level) and the counter deltas over the interval. */
final case class Span(name: String, parent: Int, startNs: Long, endNs: Long,
                      delta: Array[Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and Spark counters for the traced run. Untraced, `span` only
  * runs its body: no listener is installed and no boundary is sampled,
  * so the end-to-end run measures the program alone.
  *
  * Counters come from a SparkListener (jobs, stages, task metrics) and
  * a QueryExecutionListener (analysis + optimization + planning time);
  * the bus is drained at each boundary so a span's counts hold all the
  * work its body submitted. Scratch bytes are the size of the JVM temp
  * dir, where `TempDirs.spillParquet` and the other operator scratch
  * land. Spans stay in memory until the run writes them out. */
final class Probe(spark: SparkSession, val traced: Boolean, val scratch: Path) {
  private val c = new AtomicLongArray(C.N)
  val spans = new ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = c.incrementAndGet(C.Jobs)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        c.incrementAndGet(C.Stages)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        c.incrementAndGet(C.Tasks)
        val m = e.taskMetrics
        if (m != null) {
          c.addAndGet(C.ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
          c.addAndGet(C.ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
          c.addAndGet(C.Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
          c.addAndGet(C.Input, m.inputMetrics.bytesRead)
          c.addAndGet(C.Result, m.resultSize)
          c.addAndGet(C.TaskRunMs, m.executorRunTime)
          c.addAndGet(C.TaskCpuNs, m.executorCpuTime)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        c.addAndGet(C.PlanMs, Seq("analysis", "optimization", "planning")
          .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Counter values now, after every event posted so far is delivered. */
  def sample(): Array[Long] = {
    LakebenchBus.drain(spark.sparkContext)
    val a = Array.tabulate(C.N)(c.get)
    a(C.GcMs) = gcMs()
    a(C.ScratchBytes) = Probe.bytes(scratch)
    a
  }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val before = sample()
      val id = spans.size
      val t0 = System.nanoTime()
      spans += Span(name, stack.headOption.getOrElse(-1), t0, t0, Array.empty)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val t1 = System.nanoTime()
        val after = sample()
        spans(id) = spans(id).copy(endNs = t1,
          delta = Array.tabulate(C.N)(i => after(i) - before(i)))
      }
    }

  /** Peak heap use since the last reset. */
  def heapPeak(): Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum
  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  def toJson: String = spans.zipWithIndex.map { case (s, i) =>
    val d = Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
      "spill_bytes", "input_bytes", "result_bytes", "task_run_ms", "task_cpu_ns",
      "plan_ms", "gc_ms", "scratch_bytes").zip(s.delta)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":$i,"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},$d}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Probe {
  /** Total size and count of the regular files under `p`, skipping files
    * that vanish while the tree is walked (Spark deletes its own temp
    * files concurrently). `part-` files are the data files tables commit. */
  def usage(p: Path): (Long, Long) = {
    var bytes = 0L
    var parts = 0L
    if (Files.exists(p)) Files.walkFileTree(p, new java.nio.file.SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        if (a.isRegularFile) {
          bytes += a.size
          if (f.getFileName.toString.startsWith("part-")) parts += 1
        }
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    (bytes, parts)
  }
  def bytes(p: Path): Long = usage(p)._1
  /** Copies the tree at `from` to `to`. */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator.asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
    finally s.close()
  }
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
