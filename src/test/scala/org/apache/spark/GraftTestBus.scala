package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener counts are complete before it reads them.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
