package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark's tracer reads its listener buffers only after every
  * event of a traced pass has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
