package org.apache.spark

/** Test-side access to the package-private `waitUntilEmpty`: specs that
  * count listener events wait for every event posted so far first.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
