package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps private: after
  * `apply` returns, every event posted before the call has been delivered
  * to every registered listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
