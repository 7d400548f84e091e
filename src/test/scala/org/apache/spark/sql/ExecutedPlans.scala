package org.apache.spark.sql

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans of every action `body` runs: a query builder's
  * eager jobs (probes, collects) as well as its terminal action. The
  * listener bus is asynchronous and its flush is package-private, hence
  * this package. */
object ExecutedPlans {
  def during(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      flushListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  /** Returns once every event posted so far has reached every listener. */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
