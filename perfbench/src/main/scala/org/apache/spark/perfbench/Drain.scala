package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Waits on Spark state that is private to Spark. */
object Drain {

  /** Until every posted listener event has been delivered, so a traced
    * iteration's jobs and tasks are all recorded before they are summed.
    */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Until the blocks of unpersisted RDDs are gone (at most `maxMs`):
    * `unpersist(blocking = false)` removes them asynchronously, and a heap
    * sample must not depend on when that lands.
    */
  def unpersisted(sc: SparkContext, maxMs: Long): Unit = {
    val bm = SparkEnv.get.blockManager
    val end = System.currentTimeMillis() + maxMs
    def stale = bm.getMatchingBlockIds(b =>
      b.asRDDId.exists(r => !sc.getPersistentRDDs.contains(r.rddId)))
    while (stale.nonEmpty && System.currentTimeMillis() < end)
      Thread.sleep(10)
  }
}
