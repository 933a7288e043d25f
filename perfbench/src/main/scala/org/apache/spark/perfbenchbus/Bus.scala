package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The listener bus's drain is visible only inside the `org.apache.spark`
  * package; the benchmark needs it so that per-layer records are complete
  * before it reads them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
