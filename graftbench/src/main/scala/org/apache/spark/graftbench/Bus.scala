package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so every event of the run is counted before the report. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
