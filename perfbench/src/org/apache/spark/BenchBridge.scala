package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * event posted so far has reached the listeners, so a measurement window
  * closes with all of its task and stage events counted. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
