package org.apache.spark

/** The listener bus delivers events asynchronously; a traced query's job,
  * stage, task and stream-progress events must all have reached the
  * benchmark's listeners before the next query starts, so that each event
  * is attributed to the query that caused it. The drain call is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
