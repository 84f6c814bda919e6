package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, whose handle Spark keeps
  * package-private. The tracer calls it at every span boundary so the
  * listener counters it snapshots include every event the span posted.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
