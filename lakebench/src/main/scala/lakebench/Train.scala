package lakebench

import java.nio.file.Paths

import org.apache.spark.sql.functions._

/** A short run over the classes every workload loads (session start,
  * parquet and text I/O, joins, aggregates, a streaming drain), made
  * once at build time with `-XX:ArchiveClassesAtExit`, so each
  * benchmark run maps those classes from the archive instead of
  * loading them from the jars. It measures nothing.
  *
  *   Train <scratch dir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val spark = graft.Sessions.local("2")
    val gen = new Gen(spark, 0L)
    gen.customer(dir.toString, 200)
    gen.part(dir.toString, 100)
    gen.ordersAndLineitem(dir.toString, 500, 50, 100, 10, 2)
    gen.events(dir.resolve("events").toString, 1000, 50, 2)
    val c = spark.read.parquet(s"$dir/customer.parquet")
    c.join(c.groupBy("c_nationkey").agg(count(lit(1)).as("n")), "c_nationkey")
      .write.format("noop").mode("overwrite").save()
    graft.pipeline.AtomicTable.replace(spark.read.parquet(s"$dir/orders.parquet"),
      dir.resolve("atomic").toString)
    val sources = graft.streaming.Events.EventTypes.map { t =>
      t -> spark.readStream.format("text").load(s"$dir/events/$t")
    }.toMap
    graft.streaming.Events.multiTopicFlow(sources, dir.resolve("stream").toString,
      graft.streaming.Events.InMemoryKV).foreach(_.awaitTermination())
    spark.stop()
  }
}
