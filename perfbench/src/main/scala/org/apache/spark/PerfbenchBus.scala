package org.apache.spark

/** The benchmark's tracer aggregates listener events per query, so it
  * waits for the (asynchronous) listener bus to deliver everything a query
  * posted before the next query starts. `waitUntilEmpty` is Spark-internal,
  * hence this accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
