package org.apache.spark

/** The listener bus's drain, which Spark keeps package-private: a spec
  * that counts jobs through a SparkListener must not read its counter
  * before the bus has delivered the events of the jobs it ran. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
