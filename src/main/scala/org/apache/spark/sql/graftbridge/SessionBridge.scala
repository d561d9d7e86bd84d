package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** Bridge to Spark's `private[sql]` `cloneSession()` — the call
  * Spark's StreamExecution makes to give a running query its own
  * conf.
  */
object SessionBridge {

  /** A clone of `s` with `pins` set on the clone alone. The clone
    * carries over the caller's confs, temp views and functions, and
    * `experimental` rules, so only the pinned keys differ. Plan a
    * query on it to run that query under the pins without touching
    * `s`, on which other queries may be planning concurrently.
    */
  def pinned(s: SparkSession, pins: Map[String, String]): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    pins.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
