package org.apache.spark.graftplans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** Counts the widening exchanges — round-robin `REPARTITION_BY_NUM`
  * shuffles — in the latest plan of every SQL execution a block triggers,
  * including the staging and memo-build executions a query fires while
  * it is constructed. Declared under `org.apache.spark` to drain the
  * listener bus around the block.
  */
object PlanCensus {

  def widenings(spark: SparkSession)(run: => Unit): Int = {
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      run
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    plans.values.asScala.toSeq.map(count).sum
  }

  private def count(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" &&
        p.simpleString.contains("RoundRobinPartitioning") &&
        p.simpleString.contains("REPARTITION_BY_NUM")) 1 else 0) +
      p.children.map(count).sum
}
