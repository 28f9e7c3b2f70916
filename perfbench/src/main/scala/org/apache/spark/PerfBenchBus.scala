package org.apache.spark

/** Bridge to the listener bus's drain, which Spark keeps package-private:
  * the benchmark's tracer reads its task sums only after every event of
  * the work it traced has been delivered. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
