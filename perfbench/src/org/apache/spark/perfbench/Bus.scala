package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private, so the
  * traced run can read its listeners' counts only after every event of
  * the run has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
