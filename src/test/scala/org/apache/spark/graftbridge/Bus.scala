package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; specs that count jobs with a
  * `SparkListener` drain it so every event of the code under test has
  * been delivered before they assert. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
