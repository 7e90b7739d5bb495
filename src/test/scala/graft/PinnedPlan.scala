package graft

import org.apache.spark.sql.graftext.drainListeners
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plan (pre-AQE `sparkPlan`) a pair operator pinned with its
  * eager local checkpoint before returning: the returned frame's own plan
  * is a scan of the checkpointed rows, so a plan-shape test reads the plan
  * of the pinning action instead. */
object PinnedPlan {
  def apply[T](spark: SparkSession)(body: => T): (T, SparkPlan) = {
    val pins = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") pins.synchronized { pins += qe.sparkPlan }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = body
      drainListeners(spark.sparkContext)
      pins.synchronized {
        assert(pins.size == 1, s"expected one pinning checkpoint, saw ${pins.size}")
        (result, pins.head)
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
