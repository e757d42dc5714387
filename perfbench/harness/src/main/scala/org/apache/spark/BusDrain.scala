package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The harness calls it at each span boundary of a traced run, so that
  * the events of one span are all counted before the next span begins.
  * (The listener bus is private to Spark, hence this package.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
