package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so an operation's tasks are all recorded before it is checked. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
