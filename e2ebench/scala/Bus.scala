package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** `listenerBus.waitUntilEmpty` is `private[spark]`; the traced run needs
  * it so every task, job and progress event of a timed phase has been
  * delivered before the phase's counters are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
