package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the tracer needs: listener events are
  * delivered asynchronously, so a span table is only complete once the
  * bus has drained.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
