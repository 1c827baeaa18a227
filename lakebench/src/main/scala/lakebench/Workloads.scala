package lakebench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IncrementalEr
import graft.pipeline.{AtomicTable, Medallion}
import graft.streaming.Events

/** Operation counts of the timed rounds, plus the values a workload
  * measures itself (bytes, files, stream progress), one per round or
  * per operation. */
final class Tally {
  var attempted = 0
  var failed = 0
  val values = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  def record(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
}

/** One benchmark workload. A round is a fixed sequence of operations on
  * fresh output directories; runs repeat whole rounds, so every run
  * attempts the same operations in the same proportions. */
abstract class Workload(val spark: SparkSession, val seed: Long, val run: Path,
                        val probe: Probe, val tally: Tally) {
  val inputs: Path = run.resolve("in")
  protected def gen = new Gen(spark, seed)
  protected def roundDir(r: Int): Path = run.resolve(s"round-$r")

  /** Writes this workload's inputs under `dir`. */
  def generate(dir: Path): Unit
  /** Untimed pass over the same code paths, so JIT and codegen are warm. */
  def warmUp(check: Path): Unit
  /** Untimed work before round `r`, such as copying a standing table. */
  def prepare(r: Int): Unit = ()
  /** One timed round. */
  def round(r: Int): Unit
  /** Untimed, after round `r`: the bytes the round left on disk. */
  def written(r: Int): Long
  /** Writes what run.py checks, from the last round's outputs. */
  def writeCheck(r: Int, check: Path): Unit

  def discard(r: Int): Unit = Probe.delete(roundDir(r))

  /** One counted operation: a failure is counted, logged and survived. */
  protected def op(name: String)(body: => Unit): Unit = {
    tally.attempted += 1
    try probe.span(name)(body)
    catch {
      case NonFatal(e) =>
        tally.failed += 1
        System.err.println(s"[lakebench] operation $name failed: $e")
        e.printStackTrace()
    }
  }
}

object Workload {
  val Names = Seq("ingest", "er_incremental", "analytics")
  def apply(name: String, spark: SparkSession, seed: Long, run: Path, probe: Probe,
            tally: Tally): Workload = name match {
    case "ingest" => new Ingest(spark, seed, run, probe, tally)
    case "er_incremental" => new Er(spark, seed, run, probe, tally)
    case "analytics" => new Analytics(spark, seed, run, probe, tally)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The paper's two write pipelines, one after the other in each round:
  *
  *  - the daily batch DAG on a standing lakehouse: each daily increment
  *    appends the newly arrived orders and line items to bronze,
  *    rebuilds the silver purchase fact, and rebuilds the gold sales
  *    summary partitioned by year, both as AtomicTable commits;
  *  - a saturated drain of a pre-generated JSON event backlog through
  *    the streaming topology (4 bronze, 2 serving-state and 2 rerank
  *    sinks) with `Trigger.AvailableNow`.
  *
  * Each round writes into fresh output and checkpoint directories. */
final class Ingest(spark: SparkSession, seed: Long, run: Path, probe: Probe, tally: Tally)
    extends Workload(spark, seed, run, probe, tally) {
  /** The last `Days` days of the sf0.1 fixture's order span at its
    * density (150 000 orders in 2405 days, about 62 a day, with 4 line
    * items each), over its 20 000 parts: a quarter of history and the
    * three days a round loads. */
  val Days = 93L
  val Orders: Long = 150000L * Days / Gen.DateSpan
  val Parts = 20000L
  /** The standing lakehouse holds every row dated before `Start`; a round
    * then loads the three days from it as three daily increments, the
    * last one ending with the order span. */
  val Start: LocalDateTime = LocalDateTime.of(2001, 7, 30, 0, 0)
  val Cuts: Seq[LocalDateTime] = (1 to 3).map(i => Start.plusDays(i))
  private val processing = java.sql.Date.valueOf("2026-08-15")
  val Backlog = 60000L
  val Users = 5000L
  val FilesPerType = 8
  private val clock = lit(java.sql.Date.valueOf("2026-08-15")).cast("timestamp")

  def generate(dir: Path): Unit = {
    gen.part(dir.toString, Parts)
    gen.ordersAndLineitem(dir.toString, Orders, 15000, Parts, 1000, 4,
      firstDay = Gen.DateSpan - Days, shipLag = 1)
    gen.events(dir.resolve("events").toString, Backlog, Users, FilesPerType)
  }

  private def bronze(base: Path, t: String) = base.resolve(s"bronze/$t").toString
  private def silver(base: Path) = base.resolve("silver/purchase_fact").toString
  private def gold(base: Path) = base.resolve("gold/sales_summary").toString
  private val standing = run.resolve("standing")
  private def etl(r: Int) = roundDir(r).resolve("etl")

  private def increments(base: Path, cuts: Seq[LocalDateTime]): Unit = {
    val orders = spark.read.parquet(s"$inputs/orders.parquet")
    val lines = spark.read.parquet(s"$inputs/lineitem.parquet")
    val dim = spark.read.parquet(s"$inputs/part.parquet")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    cuts.foreach { cut =>
      op("etl.increment") {
        probe.span("pipeline.bronze_load") {
          Medallion.bronzeIncrementalLoad(spark, orders.filter(col("o_orderdate") < lit(cut)),
            bronze(base, "orders"), "o_orderdate", processing)
          Medallion.bronzeIncrementalLoad(spark, lines.filter(col("l_shipdate") < lit(cut)),
            bronze(base, "lineitem"), "l_shipdate", processing)
        }
        probe.span("pipeline.silver_commit") {
          val o = spark.read.parquet(bronze(base, "orders"))
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
          val l = spark.read.parquet(bronze(base, "lineitem"))
            .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
          AtomicTable.replace(Medallion.silverPurchaseFact(o, l, "l_orderkey",
            "l_quantity", "l_extendedprice"), silver(base))
        }
        probe.span("pipeline.gold_commit") {
          AtomicTable.replace(Medallion.goldSalesSummary(AtomicTable.read(spark, silver(base)),
              dim, "l_partkey", "o_orderdate", "l_quantity", "l_extendedprice", Seq("p_brand")),
            gold(base), mergeSchema = true, partitionCols = Seq("year"))
        }
      }
    }
  }

  private val progress =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val busy = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      progress.merge(Option(p.name).getOrElse("unnamed").takeWhile(_ != '_'),
        Array(busy, 1L, p.numInputRows), (a, b) => a.zip(b).map { case (x, y) => x + y })
    }
  }
  if (probe.traced) spark.streams.addListener(listener)

  private def drain(out: Path): Unit = op("streaming.drain") {
    Events.InMemoryKV.clear()
    val sources = Events.EventTypes.map { t =>
      t -> spark.readStream.format("text")
        .option("maxFilesPerTrigger", (FilesPerType / 2).toString)
        .load(s"$inputs/events/$t")
    }.toMap
    val queries = Events.multiTopicFlow(sources, out.toString, Events.InMemoryKV, clock)
    queries.foreach(_.awaitTermination())
  }

  /** Builds the standing lakehouse (the full-load branch: a backfill of
    * every day before `Start`), then makes a round's calls on a copy. */
  def warmUp(check: Path): Unit = {
    increments(standing, Seq(Start))
    Probe.copy(standing, run.resolve("warm/etl"))
    increments(run.resolve("warm/etl"), Cuts)
    drain(run.resolve("warm/stream"))
    Probe.delete(run.resolve("warm"))
  }

  override def prepare(r: Int): Unit = Probe.copy(standing, etl(r))

  def round(r: Int): Unit = {
    increments(etl(r), Cuts)
    progress.clear()
    val t0 = System.nanoTime()
    drain(roundDir(r).resolve("stream"))
    tally.record("streaming.events_per_s", Backlog / ((System.nanoTime() - t0) / 1e9))
    if (probe.traced) {
      probe.sample() // delivers the last progress events
      Seq("bronze", "kv", "rerank").foreach { f =>
        val v = Option(progress.get(f)).getOrElse(Array(0L, 0L, 0L))
        tally.record(s"streaming.${f}_busy_s", v(0) / 1e3)
      }
      val all = progress.values.toArray(Array.empty[Array[Long]])
      tally.record("streaming.batches", all.map(_(1)).sum.toDouble)
      tally.record("streaming.input_rows", all.map(_(2)).sum.toDouble)
    }
  }

  /** The whole lakehouse after the round (the standing part, made by the
    * same program at set-up, plus what the increments add) and the
    * stream's outputs; the increments' share is a per-layer figure. */
  def written(r: Int): Long = {
    val (standingBytes, standingFiles) = Probe.usage(standing)
    val (etlBytes, etlFiles) = Probe.usage(etl(r))
    tally.record("pipeline.files_written", (etlFiles - standingFiles).toDouble)
    tally.record("etl.bytes_written", (etlBytes - standingBytes).toDouble)
    Probe.bytes(roundDir(r))
  }

  def writeCheck(r: Int, check: Path): Unit = {
    AtomicTable.read(spark, gold(etl(r))).write.parquet(check.resolve("gold").toString)
    Files.writeString(check.resolve("etl.json"), s"""{"cut":"${Cuts.last.toLocalDate}"}""")
    val lines = for {
      u <- 0L until Users
      kind <- Seq("views", "cart")
      key = s"user:u$u:$kind"
      items = Events.InMemoryKV.get(key)
      if items.nonEmpty
    } yield s"""{"key":"$key","items":${items.map(Json.str).mkString("[", ",", "]")}}"""
    Files.writeString(check.resolve("kv.jsonl"), lines.mkString("", "\n", "\n"))
  }
}

/** Incremental entity resolution on a standing artifact. Set-up folds
  * seven of eight customer hash buckets in one `maintainBatch`; each
  * round works on a copy of that artifact, made before the round's
  * timer starts: it folds the eighth bucket (a small arrival batch
  * probing the standing index), forgets a disjoint 2% of all customers,
  * runs both compactions and reads the served assignment. */
final class Er(spark: SparkSession, seed: Long, run: Path, probe: Probe, tally: Tally)
    extends Workload(spark, seed, run, probe, tally) {
  /** sf0.01 by the fixtures' rules, so the clusters have the fixture's
    * duplicate share and sizes (README). */
  val Customers = 1500L
  val Buckets = 8L

  def generate(dir: Path): Unit = gen.customer(dir.toString, Customers)

  private def customers =
    spark.read.parquet(s"$inputs/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
  private def bucket = pmod(xxhash64(col("c_custkey"), lit(seed)), lit(Buckets))
  /** The customers whose hash falls in one of 50 buckets: about 2%. */
  private def forgotten = customers
    .filter(pmod(xxhash64(col("c_custkey"), lit(seed), lit(1)), lit(50L)) === 0)
    .select("c_custkey")
  private val standing = run.resolve("standing")
  private def artifact(base: Path) = base.resolve("er").toString

  private def maintain(base: Path): Unit = {
    val dir = artifact(base)
    val before = if (probe.traced) Probe.bytes(base) else 0L
    op("er.fold")(IncrementalEr.maintainBatch(dir)(customers.filter(bucket === Buckets - 1), 1L))
    if (probe.traced) tally.record("er.commit_bytes", (Probe.bytes(base) - before).toDouble)
    op("er.forget")(IncrementalEr.forget(spark, dir, forgotten, 2L))
    op("er.compact")(IncrementalEr.compactBase(spark, dir, 3L))
    op("er.compact")(IncrementalEr.compact(spark, dir, 4L))
    op("er.resolve") {
      IncrementalEr.resolved(spark, dir).write.format("noop").mode("overwrite").save()
    }
  }

  /** Builds the standing artifact, then makes a round's calls on a copy. */
  def warmUp(check: Path): Unit = {
    IncrementalEr.maintainBatch(artifact(standing))(customers.filter(bucket < Buckets - 1), 0L)
    Probe.copy(standing, run.resolve("warm"))
    maintain(run.resolve("warm"))
    Probe.delete(run.resolve("warm"))
  }

  override def prepare(r: Int): Unit = Probe.copy(standing, roundDir(r))
  def round(r: Int): Unit = maintain(roundDir(r))
  /** The artifact after the round: the standing part, made by the same
    * program at set-up, plus what the round commits. */
  def written(r: Int): Long = Probe.bytes(roundDir(r))

  def writeCheck(r: Int, check: Path): Unit = {
    IncrementalEr.resolved(spark, artifact(roundDir(r)))
      .write.parquet(check.resolve("resolved").toString)
    forgotten.write.parquet(check.resolve("forgotten").toString)
  }
}

/** A closed loop with one client: each pass runs the same registered
  * queries into a `noop` sink, the SQL and aggregate queries first,
  * then the graph queries. */
final class Analytics(spark: SparkSession, seed: Long, run: Path, probe: Probe, tally: Tally)
    extends Workload(spark, seed, run, probe, tally) {
  /** sf0.01 by the fixtures' rules, so every table, and every graph the
    * queries build, has the size of the sf0.01 fixture's (README). */
  val Orders = 15000L
  val Parts = 2000L
  val SqlQueries = Seq("q01_pricing_summary", "q02_monthly_sales",
    "q263_sql_min_cost_supplier")
  val GraphQueries = Seq("q104_doc_pagerank", "q190_bfs_hops", "q206_weighted_sssp",
    "q217_kcore_parts")
  def short(q: String): String = q.takeWhile(_ != '_')

  def generate(dir: Path): Unit = {
    val d = dir.toString
    gen.region(d); gen.nation(d)
    gen.customer(d, Orders / 10)
    gen.supplier(d, Orders / 150)
    gen.part(d, Parts)
    gen.ordersAndLineitem(d, Orders, Orders / 10, Parts, Orders / 150, 4)
    gen.documents(d, Orders / 30)
  }

  private def query(q: String) = graft.SparkEntry.queries(q)(spark, inputs.toString)

  def warmUp(check: Path): Unit = {
    (SqlQueries ++ GraphQueries).foreach { q =>
      query(q).write.parquet(check.resolve(q).toString)
      spark.catalog.clearCache()
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(check.resolve("oracle_sql.json"), (SqlQueries ++ GraphQueries)
      .map(q => s""""$q":${Json.str(oracle(q))}""").mkString("{", ",\n", "}\n"))
  }

  private var scratchBefore = 0L
  override def prepare(r: Int): Unit = scratchBefore = Probe.bytes(probe.scratch)

  def round(r: Int): Unit = {
    probe.span("analytics.sql_pass") {
      SqlQueries.foreach(q => op(s"sql.${short(q)}") {
        query(q).write.format("noop").mode("overwrite").save()
      })
    }
    probe.span("analytics.graph_pass") {
      GraphQueries.foreach(q => op(s"graph.${short(q)}") {
        query(q).write.format("noop").mode("overwrite").save()
      })
    }
  }

  /** The operator scratch the pass added under the JVM temp dir. */
  def written(r: Int): Long = Probe.bytes(probe.scratch) - scratchBefore

  def writeCheck(r: Int, check: Path): Unit = ()
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else if (x == math.rint(x) && math.abs(x) < 1e15)
      x.toLong.toString else x.toString
}
