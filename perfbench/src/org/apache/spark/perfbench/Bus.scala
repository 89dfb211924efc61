package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the listener bus's drain, which Spark keeps package-private: the
  * traced run reads its listeners' counters only after every event posted
  * so far has been delivered. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
