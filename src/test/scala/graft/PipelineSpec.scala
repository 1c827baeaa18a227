package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.Medallion

/** End-to-end medallion pipeline semantics over a temp lake dir:
  * bronze incremental append (strict watermark, partition derivation,
  * empty-skip), silver recompute, gold replace. */
class PipelineSpec extends SparkSpec {

  test("bronze incremental load: full, then delta, then no-op") {
    val lake = Files.createTempDirectory("graft_lake").toString
    val sink = s"$lake/bronze/orders"
    val orders = Tables.orders(spark, sf)
    val today = java.sql.Date.valueOf("2026-08-12")
    val cut = lit(java.time.LocalDateTime.parse("1999-01-01T00:00"))

    // 1st run sees only the old slice (simulated source state)
    val n1 = Medallion.bronzeIncrementalLoad(spark,
      orders.filter(col("o_orderdate") <= cut), sink, "o_orderdate", today)
    assert(n1 > 0 && n1 === orders.filter(col("o_orderdate") <= cut).count())

    // 2nd run sees the whole table -> loads exactly the complement
    val n2 = Medallion.bronzeIncrementalLoad(spark, orders, sink, "o_orderdate", today)
    assert(n2 === orders.filter(col("o_orderdate") > cut).count())
    assert(spark.read.parquet(sink).count() === orders.count())

    // 3rd run: nothing new -> empty-skip branch, no data file added
    val files = spark.read.parquet(sink).inputFiles.toSet
    val n3 = Medallion.bronzeIncrementalLoad(spark, orders, sink, "o_orderdate", today)
    assert(n3 === 0)
    assert(spark.read.parquet(sink).inputFiles.toSet === files)
    assert(spark.read.parquet(sink).count() === orders.count())

    // hive partition columns materialized and prunable
    val p = spark.read.parquet(sink)
    assert(Seq("year", "month", "day").forall(p.columns.contains))
  }

  test("bronze load: an empty full load creates no sink; the count is the rows written") {
    val lake = Files.createTempDirectory("graft_lake_empty").toString
    val sink = s"$lake/bronze/orders"
    val orders = Tables.orders(spark, sf)
    val today = java.sql.Date.valueOf("2026-08-12")
    // empty at plan time (folded to an empty relation) and at run time
    for (empty <- Seq(orders.filter(lit(false)), orders.filter(col("o_orderkey") < 0))) {
      assert(Medallion.bronzeIncrementalLoad(spark, empty, sink, "o_orderdate", today) === 0)
      assert(!Files.exists(java.nio.file.Paths.get(sink)))
    }
    val cut = lit(java.time.LocalDateTime.parse("1996-06-30T00:00"))
    val first = orders.filter(col("o_orderdate") <= cut)
    val n1 = Medallion.bronzeIncrementalLoad(spark, first, sink, "o_orderdate", today)
    assert(n1 === first.count())
    assert(spark.read.parquet(sink).count() === n1)
    val n2 = Medallion.bronzeIncrementalLoad(spark, orders, sink, "o_orderdate", today)
    assert(n1 + n2 === orders.count())
    assert(spark.read.parquet(sink).count() === orders.count())
  }

  test("withPartitionColumns falls back to injected processing date") {
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("k", "v")
    val out = Medallion.withPartitionColumns(df, None, java.sql.Date.valueOf("2025-03-09"))
      .select("year", "month", "day").head()
    assert((out.getInt(0), out.getInt(1), out.getInt(2)) === ((2025, 3, 9)))
  }

  test("gold sales summary matches the direct aggregate") {
    val fact = Medallion.silverPurchaseFact(
      Tables.orders(spark, sf).withColumnRenamed("o_orderkey", "l_orderkey"),
      Tables.lineitem(spark, sf), "l_orderkey", "l_quantity", "l_extendedprice")
    val gold = Medallion.goldSalesSummary(
      fact.withColumnRenamed("l_partkey", "p_partkey"),
      Tables.part(spark, sf), "p_partkey", "o_orderdate",
      "l_quantity", "l_extendedprice", groupExtra = Seq("p_name"))
    assert(gold.count() === queries.CoreQueries.q02.fn(spark, sf).count())
    // spot value: total quantity over all groups == filtered lineitem sum
    val total = gold.agg(sum("total_quantity")).head().getDouble(0)
    val direct = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf).withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "inner")
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")).head().getDouble(0)
    assert(total === direct)
  }

  test("createOrReplace fully replaces, including partitioned layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cor").toString + "/t"
    Medallion.createOrReplace(Seq((1, "a", 2024), (2, "b", 2025)).toDF("id", "v", "year"),
      dir, Seq("year"))
    Medallion.createOrReplace(Seq((3, "c", 2026)).toDF("id", "v", "year"), dir, Seq("year"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 1 && back.select("id").head().getInt(0) === 3)
  }
}
