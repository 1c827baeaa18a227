package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.Relational

/** The reference's medallion architecture (bronze → silver → gold)
  * re-expressed as composable plan stages over local parquet.
  *
  * Reference (all paths relative to /root/reference/):
  *  - bronze incremental JDBC→parquet load: scripts/spark_jobs/bronze_batch_load.py:55-141
  *  - silver clean/conform:                 scripts/spark_jobs/silver_clean_transform.py:52-124
  *  - gold aggregates:                      scripts/spark_jobs/gold_transfrom.py:52-95
  *
  * Deployment concerns (MinIO, Nessie catalog, Iceberg v1) are out of
  * scope per SURVEY §7.1 — the semantics (`createOrReplace`, partitioned
  * writes, merge-schema, strict high-watermark) are what we reproduce.
  */
object Medallion {

  // ---------------------------------------------------------------- bronze

  /** A1+P9 — high-watermark probe: max of `timeCol` over the existing
    * sink, null ⇒ full-load branch (bronze_batch_load.py:61-73). A global
    * max is a partial-agg + 1-row exchange: cheap at any scale.
    */
  def highWatermark(existing: DataFrame, timeCol: String): Option[Any] = {
    // Parquet ms/µs timestamps surface as TimestampNTZ in Spark 4, so the
    // collected scalar may be LocalDateTime OR java.sql.Timestamp — keep it
    // opaque and feed it back through lit(), which handles both.
    val row = existing.agg(max(col(timeCol))).head()
    if (row.isNullAt(0)) None else Some(row.get(0))
  }

  /** Incremental slice: strictly-greater-than watermark filter
    * (bronze_batch_load.py:67,113 — `>` not `>=`, so rows at exactly the
    * watermark are NOT reloaded). The predicate lands in `PushedFilters`
    * of the source scan.
    */
  def incrementalSlice(source: DataFrame, timeCol: String,
                       watermark: Option[Any]): DataFrame =
    watermark.fold(source)(w => source.filter(col(timeCol) > lit(w)))

  /** P5/P6 — derive hive partition columns `year/month/day` from
    * `timeCol`, falling back to a supplied processing-time clock when the
    * table has no event-time column (bronze_batch_load.py:78-89,123-133).
    * The clock is injected for testability (SURVEY §7.4).
    */
  def withPartitionColumns(df: DataFrame, timeCol: Option[String],
                           processingDate: java.sql.Date): DataFrame =
    timeCol match {
      case Some(t) =>
        df.withColumn("year", year(col(t)))
          .withColumn("month", month(col(t)))
          .withColumn("day", dayofmonth(col(t)))
      case None =>
        val d = lit(processingDate)
        df.withColumn("year", year(d))
          .withColumn("month", month(d))
          .withColumn("day", dayofmonth(d))
    }

  /** K1 — partitioned append (bronze_batch_load.py:91-92). Returns the
    * rows written, observed on the write itself: the reference's
    * `df.rdd.isEmpty()` short-circuit (:73,118) and its logged count
    * (:68,135) cost no job of their own. An empty input writes no data
    * file; the directory the committer lays down for it is removed
    * again when the sink did not exist before, so an empty full load
    * leaves no sink behind.
    *
    * The input is REBALANCE-hinted ON the partition columns first so
    * each hive directory receives ONE file per batch instead of one per
    * task — without it a 32-task write into a date-partitioned table
    * emits up to 32 tiny files per date, and a multi-year backfill
    * degenerates into a small-files storm (the classic lakehouse
    * failure; at 1000 executors it's 1000× worse). The rebalance hint
    * (not plain `repartition`) matters for the skew side: AQE's
    * OptimizeSkewInRebalancePartitions only splits oversized shuffle
    * partitions for REBALANCE shuffles, so a hot date becomes several
    * tasks writing several files instead of one straggler writing one
    * giant file.
    */
  def appendPartitioned(df: DataFrame, path: String,
                        partitionCols: Seq[String] = Seq("year", "month", "day")): Long = {
    val sink = new Path(path)
    val fs = sink.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val existed = fs.exists(sink)
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .hint("rebalance", partitionCols.map(col): _*)
      .write.partitionBy(partitionCols: _*).mode(SaveMode.Append).parquet(path)
    // an empty write reports no metrics: AQE drops the observed subtree
    // once its shuffle turns out empty
    val n = written.get.getOrElse("rows", 0L).asInstanceOf[Long]
    if (n == 0 && !existed &&
        fs.listStatus(sink).forall(st => "_.".contains(st.getPath.getName.head)))
      fs.delete(sink, true)
    n
  }

  /** Full bronze incremental-load step: probe sink, slice source, derive
    * partitions, append. Returns rows written (for the driver log, as the
    * reference logs counts at bronze_batch_load.py:68,135).
    */
  def bronzeIncrementalLoad(spark: SparkSession, source: DataFrame, sinkPath: String,
                            timeCol: String, processingDate: java.sql.Date,
                            partitionCols: Seq[String] = Seq("year", "month", "day")): Long = {
    // sink absent ⇒ full-load branch. Probed through the FileSystem API
    // (not by catching the reader's exception — Spark 4's lazy analysis
    // wraps the PATH_NOT_FOUND error unpredictably). The probe reads
    // the one column it needs under the source's type, which spares
    // the parquet schema-inference job.
    val sink = new Path(sinkPath)
    val fs = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wm: Option[Any] =
      if (fs.exists(sink)) highWatermark(
        spark.read.schema(StructType(Seq(source.schema(timeCol)))).parquet(sinkPath), timeCol)
      else None
    appendPartitioned(withPartitionColumns(
      incrementalSlice(source, timeCol, wm), Some(timeCol), processingDate),
      sinkPath, partitionCols)
  }

  // ---------------------------------------------------------------- silver

  /** Silver product dim (silver_clean_transform.py:70-75): prune, enrich
    * with the (broadcast) category dim, null-key guard, dedup per key.
    * Stand-ins: part=products, nation=categories (via a supplied key).
    */
  def silverDimEnrich(base: DataFrame, dim: DataFrame, key: String,
                      notNullCol: String, dedupKey: String,
                      dedupOrder: String): DataFrame =
    Relational
      .latestPerKey(
        Relational.dimEnrich(base, dim, key).filter(col(notNullCol).isNotNull),
        dedupKey, col(dedupOrder))

  /** Silver purchase fact (silver_clean_transform.py:102-106): inner fact
    * join + rename + positivity guards (`quantity > 0 AND price > 0`).
    */
  def silverPurchaseFact(orders: DataFrame, items: DataFrame, key: String,
                         qtyCol: String, priceCol: String): DataFrame =
    Relational.factJoin(orders, items, key)
      .filter(col(qtyCol) > 0 && col(priceCol) > 0)

  // ------------------------------------------------------------------ gold

  /** A2 — gold sales aggregate (gold_transfrom.py:59-70): derive
    * year/month, left-enrich the (broadcast) product dim, multi-key hash
    * aggregate with a sum over the derived `quantity*price` expression.
    * Partial aggregation (map-side combine) happens for free in
    * HashAggregateExec; the only shuffle is on the group keys.
    */
  def goldSalesSummary(fact: DataFrame, dim: DataFrame, dimKey: String,
                       timeCol: String, qtyCol: String, priceCol: String,
                       groupExtra: Seq[String]): DataFrame = {
    import graft.Cols._
    Relational.dimEnrich(
        fact.withColumn("year", year(col(timeCol)))
            .withColumn("month", month(col(timeCol))),
        dim, dimKey)
      .groupBy((Seq("year", "month", dimKey) ++ groupExtra).map(col): _*)
      .agg(
        dsum(col(qtyCol)).as("total_quantity"),
        dsumProd(col(qtyCol), col(priceCol)).as("total_sales"),
        count(lit(1)).as("num_purchases"))
  }

  /** K2/K3 — `createOrReplace` semantics over parquet: atomic-enough full
    * replace, optionally partitioned (silver_clean_transform.py:77-79,
    * gold_transfrom.py:71-75). */
  def createOrReplace(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    // partitioned replace: co-locate each hive partition into one task,
    // with AQE free to split a hot partition (see appendPartitioned)
    val out =
      if (partitionCols.nonEmpty) df.hint("rebalance", partitionCols.map(col): _*) else df
    val w = out.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
  }
}
