package org.apache.spark

/** Lets the harness wait until every listener event posted so far has
  * been delivered, so a call's jobs, stages and tasks are all recorded
  * before its metrics are read. The bus is private to Spark, hence the
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
