package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * event posted so far has reached the listeners, so a span's counters are
  * complete before they are read. `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
