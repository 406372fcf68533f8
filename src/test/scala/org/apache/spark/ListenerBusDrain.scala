package org.apache.spark

/** Test access to the listener bus, which is package-private: specs
  * that count jobs with a SparkListener drain it before reading. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
