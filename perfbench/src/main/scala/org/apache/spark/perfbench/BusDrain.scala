package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers job and task events asynchronously; the
  * tracer reads its tallies only after every event posted so far has been
  * delivered. `waitUntilEmpty` is Spark-internal, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
