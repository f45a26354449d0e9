package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so that counters
  * read after an operation include all of that operation's tasks. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
