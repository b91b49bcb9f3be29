package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark delivers listener events on a background bus and keeps the
  * call that waits for it package-private; [[graft.obs.Layers]] needs
  * it so every event of a window has arrived before its counts are
  * read. Throws `TimeoutException` if the bus is not empty in time. */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
