package org.apache.spark

/** Spark delivers listener events on a background bus and keeps the
  * call that waits for it package-private; the benchmark needs it so
  * every event of a run has arrived before counts are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
