package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * counter snapshot taken right after an action sees all of its tasks.
  * The bus is package-private; this is the one place the harness
  * reaches into it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
