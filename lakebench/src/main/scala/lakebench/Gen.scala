package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Seeded input generator. Every value is a hash of (row id, seed, column
  * tag), so one seed always yields the same tables and the program sees
  * only the generated files. The tables follow the rules of the sf0.001 ..
  * sf0.1 fixtures the registered queries and their DuckDB oracles are
  * written against: the same schemas, value domains, key and date
  * distributions and name formats, at a row count chosen per workload.
  * The README compares the properties that set the workloads' cost (ER
  * duplicate share and cluster sizes, co-purchase and document graph
  * sizes) between generated tables and fixtures of the same size.
  */
final class Gen(spark: SparkSession, seed: Long) {
  import Gen._

  private def u(tag: Int, n: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(tag)), lit(n))
  private def pick(tag: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(tag, xs.size.toLong) + 1).cast("int"))
  private def cents(tag: Int, lo: Long, hi: Long): Column =
    ((u(tag, hi - lo) + lo) / 100.0).cast("double")
  private def day(offset: Column): Column =
    date_add(lit(java.sql.Date.valueOf("1995-01-01")), offset.cast("int"))
      .cast(TimestampNTZType)

  private def save(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def region(dir: String): Unit = save(
    spark.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")),
    dir, "region")

  def nation(dir: String): Unit = save(
    spark.range(0, Nations, 1, 1).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5L)).cast("int").as("n_regionkey")),
    dir, "nation")

  /** Customers as in the sf fixtures: keys 0..n-1 named
    * `Customer#%09d`, each in a uniformly drawn nation. Entity resolution
    * links two customers of one nation whose names are within edit
    * distance one, so clusters are keys that differ in one digit within
    * a nation: the same duplicate share and cluster sizes as the
    * fixture of the same size (see the README). */
  def customer(dir: String, n: Long): Unit = save(
    spark.range(0, n, 1, 1).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(2, Nations).cast("int").as("c_nationkey"),
      cents(5, -99999, 1000000).as("c_acctbal"),
      pick(6, Segments).as("c_mktsegment")),
    dir, "customer")

  def supplier(dir: String, n: Long): Unit = save(
    spark.range(0, n, 1, 1).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(10, Nations).cast("int").as("s_nationkey"),
      cents(11, -99999, 999999).as("s_acctbal")),
    dir, "supplier")

  def part(dir: String, n: Long): Unit = save(
    spark.range(0, n, 1, 1).select(col("id").as("p_partkey"),
      concat(pick(20, Colors), lit(" "), pick(21, Nouns)).as("p_name"),
      concat(lit("Brand#"), u(22, 25) + 1).as("p_brand"),
      pick(23, Types).as("p_type"),
      (u(24, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")),
    dir, "part")

  /** Orders and line items as in the sf fixtures: order dates uniform
    * over the days from `firstDay` (0 is 1995-01-01) to the end of the
    * fixtures' span; `LinesPerOrder` line items per order, each with a
    * uniform order key (so an order has a Poisson(4) number of lines, some
    * none), a uniform part and supplier, and a ship date drawn apart from
    * its order's, 1..`shipLag` days after a uniform day of the same span. */
  def ordersAndLineitem(dir: String, nOrders: Long, nCust: Long, nPart: Long,
                        nSupp: Long, parts: Int, firstDay: Long = 0,
                        shipLag: Long = ShipLag): Unit = {
    val days = DateSpan - firstDay
    save(spark.range(0, nOrders, 1, parts).select(
      col("id").as("o_orderkey"),
      u(30, nCust).as("o_custkey"),
      pick(31, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(32, 100000, 50000000).as("o_totalprice"),
      day(u(33, days) + firstDay).as("o_orderdate"),
      pick(34, Priorities).as("o_orderpriority")), dir, "orders")
    save(spark.range(0, nOrders * LinesPerOrder, 1, parts).select(
      u(40, nOrders).as("l_orderkey"),
      u(42, nPart).as("l_partkey"),
      u(43, nSupp).as("l_suppkey"),
      (u(41, 7) + 1).cast("int").as("l_linenumber"),
      (u(44, 50) + 1).cast("double").as("l_quantity"),
      ((u(45, 10410000) + 90000) / 100.0).as("l_extendedprice"),
      (u(46, 11) / 100.0).as("l_discount"),
      (u(47, 9) / 100.0).as("l_tax"),
      pick(48, Seq("A", "N", "R")).as("l_returnflag"),
      pick(49, Seq("O", "F")).as("l_linestatus"),
      day(u(50, days) + firstDay + u(51, shipLag) + 1).as("l_shipdate")), dir, "lineitem")
  }

  /** Documents as in the sf fixtures: 10..100 words drawn uniformly from
    * a 30-word vocabulary, 40% `en` and 15% each of four other languages,
    * source `src<id mod 20>`; 5% of them are a copy of another document
    * with " dup" appended (near-duplicates for the dedup graphs). */
  def documents(dir: String, n: Long): Unit = {
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1L), u(60, 91) + 10),
      i => element_at(vocab, (pmod(xxhash64(col("id"), lit(seed), i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val base = spark.range(0, n, 1, 1).select(col("id"), concat_ws(" ", words).as("own"))
    val dup = u(63, 100) < 5
    save(spark.range(0, n, 1, 1)
        .select(col("id"), when(dup, u(64, n)).otherwise(col("id")).as("src_id"), dup.as("dup"))
        .join(base.select(col("id").as("src_id"), col("own")), "src_id")
        .select(col("id").as("doc_id"),
          when(col("dup"), concat(col("own"), lit(" dup"))).otherwise(col("own")).as("text"),
          pick(61, Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
            "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")).as("lang"),
          concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(1).sortWithinPartitions("doc_id"),
      dir, "documents")
  }

  /** JSON event backlog, one text directory per event type, in the
    * reference's 60/20/15/5 page_view/add_to_cart/purchase/review mix.
    * Every event of a type carries a distinct timestamp, so a bronze row
    * identifies the event it came from. */
  def events(dir: String, n: Long, users: Long, files: Int): Unit =
    EventMix.foreach { case (etype, pct) =>
      val rows = n * pct / 100
      val tag = etype.hashCode
      val base = spark.range(0, rows, 1, files).select(
        concat(lit("u"), u(tag + 1, users)).as("user_id"),
        date_format(timestamp_seconds(col("id") + lit(1786000000L)),
          "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        concat(lit("p"), u(tag + 2, 20000)).as("product_id"),
        (u(tag + 3, 5) + 1).cast("int").as("quantity"),
        concat(lit("o"), col("id")).as("order_id"),
        (u(tag + 4, 99500) / 100.0).as("price"),
        (u(tag + 5, 5) + 1).cast("int").as("rating"))
      val fields = EventFields(etype).map(col)
      base.select(to_json(struct(fields: _*)).as("value"))
        .write.mode("overwrite").text(s"$dir/$etype")
    }
}

object Gen {
  val Nations = 25L
  /** 1995-01-01 .. 2001-08-01, the order-date span of the fixtures. */
  val DateSpan = 2405L
  val ShipLag = 95L
  val LinesPerOrder = 4L
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Colors = Seq("blue", "old", "hot", "large", "cold", "small", "new", "red")
  val Nouns = Seq("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
  val Types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  /** The fixtures' document vocabulary. */
  val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  val EventMix = Seq("page_view" -> 60L, "add_to_cart" -> 20L, "purchase" -> 15L,
    "review" -> 5L)
  /** JSON fields per event type — the `Events.eventSchemas` columns. */
  val EventFields = Map(
    "page_view" -> Seq("user_id", "timestamp", "product_id"),
    "add_to_cart" -> Seq("user_id", "timestamp", "product_id", "quantity"),
    "purchase" -> Seq("user_id", "timestamp", "order_id", "product_id",
      "quantity", "price"),
    "review" -> Seq("user_id", "timestamp", "product_id", "rating"))
}
