package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the listener
  * bus has delivered every event posted so far, so counts read at the end of
  * a span or a pass are complete. `listenerBus` is `private[spark]`, hence
  * this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
