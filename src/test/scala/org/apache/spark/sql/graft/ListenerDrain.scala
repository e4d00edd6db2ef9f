package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the session's listener bus drain (private to Spark): a
  * listener has seen every event posted so far once this returns. */
object ListenerDrain {
  def apply(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
