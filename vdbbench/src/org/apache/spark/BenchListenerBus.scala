package org.apache.spark

/** Lets the benchmark wait until every posted scheduler event has reached
  * its listeners (`listenerBus` is private[spark]); without it a counter
  * read right after an action can miss that action's last events. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
