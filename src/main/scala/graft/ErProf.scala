package graft

import org.apache.spark.sql.functions._

/** Solo profile of the q239 fold sequence on a fresh session — the
  * measurement harness behind the r16 layout decisions (delta-tier
  * bucket count, write repartition). It prints per-batch walls; the
  * per-phase split is on the jobs themselves: `IncrementalEr` sets
  * each job's description to `IncrementalEr.maintainBatch: <phase>`
  * (arrivals, buckets, edges, contract, cc, moved, commit), which any
  * SparkListener sees, e.g. Spark's event log
  * (`-Dspark.eventLog.enabled=true`). Bench walls are warm-JVM; this
  * main isolates cold attribution. */
object ErProf {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("32")
    val d = "/root/testdata/sf0.1"
    val dir = graft.pipeline.TempDirs.scoped("graft_erprof_") + "/er"
    val c = Tables.customer(spark, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val t0 = System.nanoTime()
    (0 until 3).foreach { b =>
      val tb = System.nanoTime()
      graft.operators.IncrementalEr.maintainBatch(dir)(
        c.filter(pmod(xxhash64(col("c_custkey")), lit(3)) === b), b.toLong)
      println(f"[erprof] batch $b total ${(System.nanoTime()-tb)/1e9}%.2fs")
    }
    val tr = System.nanoTime()
    val n = graft.operators.IncrementalEr.resolved(spark, dir).count()
    println(f"[erprof] resolve ${(System.nanoTime()-tr)/1e9}%.2fs rows=$n total ${(System.nanoTime()-t0)/1e9}%.2fs")
    spark.stop()
  }
}
