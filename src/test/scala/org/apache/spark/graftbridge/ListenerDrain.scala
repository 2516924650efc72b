package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every event already posted to the listener bus has been
  * delivered, so a spec's listener counts cover all finished jobs. The
  * bus is internal to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
