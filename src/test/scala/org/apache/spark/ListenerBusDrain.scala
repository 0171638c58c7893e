package org.apache.spark

/** Test access to the listener-bus drain, which Spark keeps package-private:
  * a spec that reads what a listener recorded first waits until every
  * event posted so far has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
