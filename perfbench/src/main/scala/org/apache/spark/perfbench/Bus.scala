package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run drains it after
  * each call into a layer so that every job, stage and query-execution
  * event of that call has been delivered before the call's span closes. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
