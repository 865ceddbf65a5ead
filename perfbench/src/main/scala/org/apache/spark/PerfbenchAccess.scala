package org.apache.spark

/** The two engine internals the benchmark reads: draining the listener
  * bus before totals are taken, and the codegen compile histogram.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compiles, summed compile ms) since JVM start. The sum comes from
    * the histogram's sampled mean, so it is exact only while the
    * reservoir holds every sample.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
