package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. The benchmark drains the
  * bus before it reads its listeners, so every event of a finished job has
  * arrived. Lives under `org.apache.spark` because the bus is package-private.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
