package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus barrier. Spark delivers listener events asynchronously; the
  * harness drains the bus after every timed call so the counters it then
  * reads cover exactly that call. `waitUntilEmpty` is package-private to
  * Spark, hence this one-line shim in Spark's namespace.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
