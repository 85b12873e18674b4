package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal reads the benchmark's tracer needs, in Spark's
  * own package because both are `private[spark]`: draining the listener
  * bus before counts are read, and the JVM-wide codegen histograms. */
object BenchAccess {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (classes compiled, seconds spent compiling) since JVM start. The
    * compile-time histogram keeps every sample until 1028 of them, so the
    * mean times the count is the total up to that size. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, if (n == 0) 0.0 else h.getSnapshot.getMean * n / 1000.0)
  }
}
