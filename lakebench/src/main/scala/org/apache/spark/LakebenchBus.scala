package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counts read at a span boundary include all work before it. The bus
  * is package-private to Spark, hence this file's package. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
