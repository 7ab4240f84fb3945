package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener counts are complete before it reads them; and lists the
  * RDD blocks the block manager holds, so a spec can pin that an operator
  * leaves no cached or checkpointed blocks behind.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def rddBlocks(sc: SparkContext): Set[String] =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .map(_.name).toSet
}
