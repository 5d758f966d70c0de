package org.apache.spark

/** Specs' access to the private listener bus: block until every event
  * posted so far has reached the listeners, so a count taken after an
  * action sees all of that action's jobs.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
