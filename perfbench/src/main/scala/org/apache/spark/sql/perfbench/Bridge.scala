package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer reads, kept in one place: the
  * listener bus (drained before counters are read, since listeners run
  * asynchronously) and the QueryExecution attached to an execution-end
  * event (its phase timings and write statistics). */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  /** Epoch milliseconds at which the execution started. */
  def startMs(e: SparkListenerSQLExecutionEnd): Double = e.time - e.duration / 1e6

  /** Files written by the write commands in an executed plan. */
  def filesWritten(plan: SparkPlan): Long = plan match {
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L) + filesWritten(w.child)
    case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
    case q: QueryStageExec => filesWritten(q.plan)
    case p => p.children.map(filesWritten).sum
  }
}
