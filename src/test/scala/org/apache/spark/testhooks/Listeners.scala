package org.apache.spark.testhooks

import org.apache.spark.SparkContext

/** Spark-internal call the tests need, hence this package. */
object Listeners {

  /** Blocks until the listener bus has delivered every posted event, so a
    * listener read after an action has seen all of that action's jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
