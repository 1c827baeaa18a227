package graft.operators

import org.apache.spark.sql.SparkSession

/** Phase tags for multi-phase operators ([[IncrementalEr]], [[Triangles]]):
  * each Spark job carries the phase that submitted it in its job
  * description, which any SparkListener reads from `onJobStart`'s
  * properties (and the event log records), so a run splits its jobs and
  * time per phase without printlns or env flags. */
private[graft] object Phases {

  /** Spark's job-description property (what `setJobDescription` sets). */
  val JobDescription = "spark.job.description"

  /** Runs `body` with a `phase` function that tags every Spark job
    * submitted after it as `<op>: <phase>`, then restores the caller's
    * own description. */
  def phased[T](spark: SparkSession, op: String)(body: (String => Unit) => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(JobDescription)
    try body(p => sc.setJobDescription(s"$op: $p"))
    finally sc.setJobDescription(prior)
  }
}
