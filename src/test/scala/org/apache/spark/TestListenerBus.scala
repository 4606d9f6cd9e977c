package org.apache.spark

/** Lets a spec wait until every posted scheduler event has reached its
  * listeners (`listenerBus` is private[spark]). */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
