package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Column ⇄ Expression bridge. Spark 4 made the Column(expr) constructor
  * internal (columns wrap ColumnNodes); extensions that define custom
  * Catalyst expressions reach it through the classic converter, which is
  * only visible from the org.apache.spark.sql package hierarchy.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame. */
  def plan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame from a (resolved) logical plan. */
  def dataset(spark: org.apache.spark.sql.SparkSession,
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], p)

  /** Delete the local directory `path`, contents and all, when the JVM
    * exits (Spark's own temp-dir shutdown hook; registering twice is a
    * no-op). */
  def deleteAtExit(path: String): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(
      new java.io.File(path))

  /** The rows of `df` as an RDD, planned inside a SQL execution of its
    * own called `name`: query-execution listeners see its plan, and under
    * AQE its shuffle stages run (and report) there, not as part of the
    * caller's execution. */
  def rows(df: org.apache.spark.sql.DataFrame, name: String): RDD[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd)
  }

  /** `df`'s columns over `rdd`, an RDD of `df`'s rows. The optimizer
    * keeps `df`'s size and row-count estimate, so a join above still
    * plans as it did over `df`; the partitioning is declared unknown. */
  def overRdd(df: org.apache.spark.sql.DataFrame,
      rdd: RDD[InternalRow]): org.apache.spark.sql.DataFrame = {
    val qe = df.queryExecution
    val st = qe.optimizedPlan.stats
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    dataset(session, LogicalRDD(qe.analyzed.output, rdd)(
      session, Some(Statistics(st.sizeInBytes, st.rowCount)), None))
  }
}
