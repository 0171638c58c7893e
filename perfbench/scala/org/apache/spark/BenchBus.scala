package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run reads its listener counters only after every event
  * posted so far has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
