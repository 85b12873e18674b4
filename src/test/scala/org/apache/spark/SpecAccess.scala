package org.apache.spark

/** Spark-internal access for specs, in Spark's package because it is
  * `private[spark]`: drain the listener bus so every event posted so far
  * has reached every listener before a spec reads its counts. */
object SpecAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
