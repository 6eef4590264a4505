package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps package-private: a test
  * reads its listener's counts only after every posted event has been
  * delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
