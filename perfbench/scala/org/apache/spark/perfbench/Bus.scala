package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to the spark package; a traced run must wait
  * for it to empty before it reads what its listener attributed.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
