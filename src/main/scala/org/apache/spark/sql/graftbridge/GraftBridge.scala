package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.AbstractDataType

/** Access shim for `private[sql]` Spark internals needed to expose custom
  * Catalyst expressions as user-facing Columns (the standard pattern for
  * Spark extension libraries — a bridge object inside the sql package
  * namespace), plus the `private[spark]` listener-bus drain, schema
  * nullability, a file write through a caller's commit protocol and the
  * rebinding of a DataFrame to another session.
  * Only pure adapters live here; all graft logic stays in the `graft.*`
  * packages.
  */
object GraftBridge {
  /** Wrap a Catalyst expression as a Column (Spark 4 classic API). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst expression backing a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder into a live session's registry (the
    * post-creation analog of `SparkSessionExtensions.injectFunction`). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Blocks until every listener has seen every event posted so far, so
    * a counter a listener keeps is complete for the actions that have
    * returned. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** `StructType.asNullable` (`private[spark]`): the nullability Spark's
    * file sources give a relation's data schema. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Write `df` as parquet under `path`, partitioned by `partitionCols`,
    * through `committer` instead of the commit protocol the session conf
    * names: the file writer a `df.write.parquet` runs, as one SQL
    * execution, with no catalog refresh. `hadoopOptions` go into this
    * write's Hadoop conf only, the one its tasks receive; `statsTrackers`
    * see the written rows in the write's tasks. */
  def writeParquet(df: org.apache.spark.sql.DataFrame, path: String, partitionCols: Seq[String],
      committer: org.apache.spark.internal.io.FileCommitProtocol,
      hadoopOptions: Map[String, String],
      statsTrackers: Seq[org.apache.spark.sql.execution.datasources.WriteJobStatsTracker]): Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val resolver = session.sessionState.conf.resolver
      val parts = partitionCols.map(c => plan.output.find(a => resolver(a.name, c))
        .getOrElse(throw new IllegalArgumentException(s"no partition column $c in ${plan.output}")))
      FileFormatWriter.write(session, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        session.sessionState.newHadoopConfWithOptions(hadoopOptions),
        parts, None, statsTrackers, Map.empty)
    }
  }

  /** `df` as a DataFrame of `spark`: its logical plan, analyzed and run
    * in that session. A streaming query hands `foreachBatch` its batch in
    * the query's own clone of the session, whose jobs' tasks get a class
    * loader of their own, and Spark's codegen cache is keyed by loader:
    * rebound to the session that started the query, a sink's jobs reuse
    * the classes earlier queries compiled. The batch's plan is the
    * `LogicalRDD` over the micro-batch's rows that Spark's sink already
    * built, so nothing is copied or converted. */
  def inSession(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.logical)

  type AbstractType = AbstractDataType
}
