package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run needs to wait until
  * every event of a phase has reached the ledger before it reads the
  * counters, so this one call is exposed from inside the package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
