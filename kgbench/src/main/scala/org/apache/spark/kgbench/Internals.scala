package org.apache.spark.kgbench

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** The two Spark-internal calls the benchmark needs, hence this package. */
object Internals {

  /** Blocks until the listener bus has delivered every posted event, so task
    * metrics read after an action include all of that action's tasks. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Removes every broadcast block. Between iterations nothing references
    * them any more, but the context cleaner frees them only after some later
    * GC, so without this one iteration's broadcasts count toward the next
    * iteration's retained heap. */
  def dropBroadcasts(sc: SparkContext): Unit = {
    val master = sc.env.blockManager.master
    master.getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.distinct
      .foreach(id => master.removeBroadcast(id, removeFromMaster = true, blocking = true))
  }
}
