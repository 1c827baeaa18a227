package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IncrementalEr
import graft.pipeline.TempDirs

/** The read sites that pass the schema the program wrote (and so skip
  * parquet's schema-inference job) see the relation inference would
  * have given them: names, order, types, nullability and partition
  * columns. */
class ReadSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def partitionColumns(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.partitionSchema.fieldNames.toSeq }
      .getOrElse(Nil)

  private def assertSameRelation(pinned: DataFrame, inferred: DataFrame, what: String): Unit = {
    assert(pinned.schema === inferred.schema, what)
    assert(partitionColumns(pinned) === partitionColumns(inferred), what)
  }

  private val tables = Seq("base" -> IncrementalEr.baseSchema,
    "variants" -> IncrementalEr.variantsSchema, "labels" -> IncrementalEr.labelsSchema,
    "members" -> IncrementalEr.membersSchema)

  private def artifact(ids: Seq[Long], compacted: Boolean): String = {
    val dir = TempDirs.scoped("graft_erschema_") + "/er"
    def cust(rows: (Long, String, Long)*) = rows.toDF("c_custkey", "c_name", "c_nationkey")
    IncrementalEr.maintainBatch(dir)(cust((10L, "cat", 1L), (30L, "dog", 1L), (40L, "aaa", 2L)), ids(0))
    IncrementalEr.maintainBatch(dir)(cust((5L, "bat", 1L), (41L, "aab", 2L)), ids(1))
    // a forget leaves tombstones (null components) in the label delta
    IncrementalEr.forget(spark, dir, Seq(30L).toDF("c_custkey"), ids(2))
    if (compacted) {
      // compaction writes every table again, through its own writers
      IncrementalEr.compact(spark, dir, ids(3))
      IncrementalEr.compactBase(spark, dir, ids(4))
      IncrementalEr.maintainBatch(dir)(cust((6L, "bot", 1L)), ids(5))
    }
    dir
  }

  test("IncrementalEr tables: the pinned schema is the inferred one") {
    // batch ids past the int range: inference then sees the LONG the
    // writer wrote for the batch column
    val dir = artifact(Seq(0L, 3000000000L, 3000000001L), compacted = false)
    for ((t, schema) <- tables) {
      val inferred = spark.read.parquet(s"$dir/$t")
      assert(partitionColumns(inferred).size === 2, t)
      assertSameRelation(spark.read.schema(schema).parquet(s"$dir/$t"), inferred, t)
      // every delta writer lays its columns out in that order
      inferred.inputFiles.foreach(f => assert(spark.read.parquet(f).schema ===
        StructType(schema.fields.dropRight(2)), s"$t: $f"))
    }
  }

  test("IncrementalEr tables: small batch ids infer an INT batch column, pinned keeps LONG") {
    val dir = artifact(Seq(0L, 1L, 2L), compacted = false)
    for ((t, schema) <- tables) {
      val inferred = spark.read.parquet(s"$dir/$t")
      assert(inferred.schema("_er_batch").dataType === IntegerType, t)
      assertSameRelation(spark.read.schema(schema).parquet(s"$dir/$t"),
        inferred.withColumn("_er_batch", col("_er_batch").cast("long")), t)
    }
  }

  test("IncrementalEr tables after compaction: the pinned read returns every row") {
    // compactBase writes base rows as (blk, k, w), the delta writers as
    // (k, w, blk): inference takes whichever footer it lists first,
    // while the pinned read is one order whatever the listing
    val dir = artifact(0L to 5L, compacted = true)
    for ((t, schema) <- tables) {
      val inferred = spark.read.parquet(s"$dir/$t")
      val pinned = spark.read.schema(schema).parquet(s"$dir/$t")
      assert(inferred.schema.fieldNames.sorted === schema.fieldNames.sorted, t)
      val cols = schema.fieldNames.toSeq.map(c => col(c).cast(schema(c).dataType))
      assert(pinned.select(cols: _*).collect().toSet ===
        inferred.select(cols: _*).collect().toSet, t)
      assert(pinned.count() === inferred.count(), t)
    }
  }

  test("spillParquet reads back what inference would, non-null and nested fields included") {
    val df = Seq((1L, "a", 1.5, Seq(1, 2), Map("k" -> 2L), (3, "x")))
      .toDF("id", "s", "d", "arr", "m", "st")
      .withColumn("dec", lit(BigDecimal("12.34")).cast("decimal(18,2)"))
      .withColumn("day", lit(java.sql.Date.valueOf("2024-02-29")))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-02-29 10:00:00")))
      .withColumn("ntz", lit(java.time.LocalDateTime.parse("2024-02-29T10:00")))
      .withColumn("bin", lit(Array[Byte](1, 2)))
      .withColumn("nested", array(struct(col("id"), col("s"))))
    assert(!df.schema("id").nullable && !df.schema("arr").dataType
      .asInstanceOf[ArrayType].containsNull)
    val spilled = TempDirs.spillParquet(df, "graft_spillschema_")
    val path = new org.apache.hadoop.fs.Path(spilled.inputFiles.head).getParent.toString
    assertSameRelation(spilled, spark.read.parquet(path), "spill")
    assert(spilled.collect().toSeq === spark.read.parquet(path).collect().toSeq)
  }
}
