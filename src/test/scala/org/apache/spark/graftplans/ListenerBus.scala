package org.apache.spark.graftplans

import org.apache.spark.sql.SparkSession

/** Declared under `org.apache.spark` to reach the listener bus. */
object ListenerBus {

  /** Block until every event posted so far — streaming query progress
    * included — has reached its listeners. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
