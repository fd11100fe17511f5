package org.apache.spark

/** Test access to the driver's listener bus, so a spec can read listener
  * counts only after every event of the jobs it ran has been delivered.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
