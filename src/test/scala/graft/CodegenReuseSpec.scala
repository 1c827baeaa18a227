package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.operators.IncrementalEr
import graft.pipeline.{AtomicTable, Medallion, TempDirs}

/** Spark compiles a generated class once per JVM only while its codegen
  * cache holds the class, so `Sessions.local` sizes the cache to the
  * program's plan working set. These replay a call on a second copy of
  * the same standing state and count what Janino compiles (the
  * JVM-wide `CodegenMetrics` compilation histogram): a replay must
  * compile nothing. At Spark's 100-entry default an ER cycle, whose
  * working set is a few hundred classes, recompiles all of them. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def copyTree(from: String, to: String): String = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString),
        StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    to
  }

  private lazy val root = TempDirs.scoped("graft_codegen_")
  private def customers = Tables.customer(spark, sf)
    .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
  private def bucket = pmod(xxhash64(col("c_custkey")), lit(8))

  /** Seven of eight customer hash buckets, folded as batch 0. */
  private lazy val standingEr: String = {
    val dir = s"$root/er-standing"
    IncrementalEr.maintainBatch(dir)(customers.filter(bucket < 7), 0L)
    dir
  }
  private var copies = 0
  private def erCopy(): String = {
    copies += 1
    copyTree(standingEr, s"$root/er-$copies")
  }

  /** One maintenance cycle: fold the eighth bucket, forget about 2% of
    * all customers, compact base and labels, read the assignment. */
  private def erCycle(dir: String, ids: Seq[Long]): Unit = {
    IncrementalEr.maintainBatch(dir)(customers.filter(bucket === 7), ids(0))
    IncrementalEr.forget(spark, dir, customers
      .filter(pmod(xxhash64(col("c_custkey"), lit(1)), lit(50)) === 0)
      .select("c_custkey"), ids(1))
    IncrementalEr.compactBase(spark, dir, ids(2))
    IncrementalEr.compact(spark, dir, ids(3))
    IncrementalEr.resolved(spark, dir).write.format("noop").mode("overwrite").save()
  }

  /** The first cycle: it compiles what no earlier call in this JVM
    * left in the cache. */
  private lazy val firstCycle: Long = compiles(erCycle(erCopy(), 1L to 4L))

  test("an IncrementalEr cycle replayed on a copy of its standing artifact compiles nothing") {
    val first = firstCycle
    val n = compiles(erCycle(erCopy(), 1L to 4L))
    info(s"first cycle $first classes, replay $n")
    assert(n === 0L, s"(the first cycle compiled $first)")
  }

  test("an IncrementalEr cycle with fresh batch ids compiles only its batch-id residue") {
    val first = firstCycle
    // writeBucketed's batch-id literal is inlined into generated code,
    // so new ids compile a few classes again; the rest is reused
    val n = compiles(erCycle(erCopy(), 11L to 14L))
    info(s"first cycle $first classes, fresh ids $n")
    assert(n <= 22L, s"(the first cycle compiled $first)")
  }

  test("a medallion increment replayed on a copy of its standing lakehouse compiles nothing") {
    val processing = java.sql.Date.valueOf("2026-08-15")
    val orders = Tables.orders(spark, sf)
    val lines = Tables.lineitem(spark, sf)
    val dim = Tables.part(spark, sf).select(col("p_partkey").as("l_partkey"), col("p_brand"))
    def increment(base: String, cut: String): Unit = {
      val until = lit(java.time.LocalDateTime.parse(cut))
      Medallion.bronzeIncrementalLoad(spark, orders.filter(col("o_orderdate") < until),
        s"$base/bronze/orders", "o_orderdate", processing)
      Medallion.bronzeIncrementalLoad(spark, lines.filter(col("l_shipdate") < until),
        s"$base/bronze/lineitem", "l_shipdate", processing)
      val o = spark.read.parquet(s"$base/bronze/orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
      val l = spark.read.parquet(s"$base/bronze/lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      AtomicTable.replace(Medallion.silverPurchaseFact(o, l, "l_orderkey",
        "l_quantity", "l_extendedprice"), s"$base/silver")
      AtomicTable.replace(Medallion.goldSalesSummary(AtomicTable.read(spark, s"$base/silver"),
          dim, "l_partkey", "o_orderdate", "l_quantity", "l_extendedprice", Seq("p_brand")),
        s"$base/gold", mergeSchema = true, partitionCols = Seq("year"))
    }
    val standing = s"$root/lake-standing"
    increment(standing, "2001-07-01T00:00")
    val first = compiles(increment(copyTree(standing, s"$root/lake-1"), "2001-12-01T00:00"))
    val n = compiles(increment(copyTree(standing, s"$root/lake-2"), "2001-12-01T00:00"))
    info(s"first increment $first classes, replay $n")
    assert(n === 0L, s"(the first increment compiled $first)")
  }
}
