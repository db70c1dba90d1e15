package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a request's job and query records are complete
  * before they are read (the bus is otherwise asynchronous). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
