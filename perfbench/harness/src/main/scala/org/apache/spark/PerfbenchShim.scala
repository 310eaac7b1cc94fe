package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every
  * listener event posted so far has been delivered, so counters read
  * after a run are complete. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
