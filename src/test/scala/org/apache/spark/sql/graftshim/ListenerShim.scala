package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test access to the session's listener bus (`private[spark]`): query
  * execution listeners run asynchronously on it, so a spec that counts
  * executions drains it before reading its count.
  */
object ListenerShim {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
