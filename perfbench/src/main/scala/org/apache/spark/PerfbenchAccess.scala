package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting for the
  * asynchronous listener bus, so a traced op's job and task counts are
  * complete before they are read. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
