package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution a SQL execution's end event carries is Spark-internal;
  * the tracer reads from it, keyed by execution id, the Catalyst phases
  * (analysis, optimization, planning) as (start, end) epoch-millisecond
  * intervals, and the files its scans opened. */
object SqlEvents extends AdaptiveSparkPlanHelper {
  def catalystPhases(e: SparkListenerSQLExecutionEnd): Seq[(Long, Long)] =
    Option(e.qe).toSeq.flatMap(_.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)))

  /** The execution's file scans, cached plans and subqueries included, as
    * (scan identity, on-disk size of the files it selected: its
    * `filesSize` metric). A cached plan shared by several executions
    * yields the same scan identity in each. Spark's task input metrics
    * cannot stand in: parquet's vectored reads bypass the file-system
    * counters they come from. */
  def fileScans(e: SparkListenerSQLExecutionEnd): Seq[(Int, Long)] =
    Option(e.qe).toSeq.flatMap(qe => scans(qe.executedPlan))

  private def scans(plan: SparkPlan): Seq[(Int, Long)] = collectWithSubqueries(plan) {
    case s: FileSourceScanExec =>
      Seq(System.identityHashCode(s) -> s.metrics.get("filesSize").map(_.value).getOrElse(0L))
    case c: InMemoryTableScanExec => scans(c.relation.cachedPlan)
  }.flatten
}
