package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical plans of the queries a block executes, in their final
  * (adaptive) form, captured by a `QueryExecutionListener` registered for
  * the block and read after the listener bus has drained. An operator
  * that pins its output ([[graft.operators.Materialize]]) returns a frame
  * over the pinned rows, whose own plan hides what ran; the pin's
  * execution, captured here, carries the operator's whole plan. */
object ExecutedPlans {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan.toString)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      TestListenerBus.drain(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
