package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the benchmark reads
  * its counters only after every event posted so far has been handled.
  * `waitUntilEmpty` is package-private to Spark, hence this shim. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
