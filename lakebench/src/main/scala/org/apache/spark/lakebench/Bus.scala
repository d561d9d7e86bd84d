package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain is Spark-internal: a traced
  * span must see every task and query event of its window before it
  * closes.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
