package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until the
  * listener bus has delivered every queued event, so counts read right
  * after an action are complete. `waitUntilEmpty` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
