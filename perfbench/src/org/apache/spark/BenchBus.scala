package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run
  * needs it so every job and stage of an op is seen before roll-up. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
