package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so a traced
  * operation's jobs, stages, tasks, plans and stream progress are all
  * attributed to it before the next operation starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
