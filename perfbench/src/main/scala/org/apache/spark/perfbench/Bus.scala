package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: the traced run drains it
  * after each timed operation so that every job, stage, task and query
  * event of that operation has reached the benchmark's listeners before
  * the next operation starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
