package org.apache.spark

/** The one Spark internal the benchmark's tracer needs, reachable only from
  * inside the `org.apache.spark` package.
  */
object PerfbenchAccess {

  /** Block until every event posted so far reached the listeners, so a
    * span's task counts are complete when the span is read.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
