package org.apache.spark

/** Specs' access to Spark's package-private listener bus. */
object ListenerBusDrain {
  /** Returns once every event posted so far has reached every listener. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
