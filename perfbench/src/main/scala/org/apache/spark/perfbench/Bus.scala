package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is internal to Spark (hence this package): draining it
  * makes every event posted so far visible to the benchmark's listener, so
  * counters read right after a call cover all the jobs that call ran.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
