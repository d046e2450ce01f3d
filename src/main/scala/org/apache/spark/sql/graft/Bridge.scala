package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge. Spark 4 made the classic converters
  * `private[sql]` (Column now wraps a ColumnNode); this shim re-exports the
  * two needed by graft's custom Catalyst expression, and the checkpoint
  * statistics rebuild of `Rounds.materialize`, so the library keeps a
  * single, version-pinned crossing point into Spark internals.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A lazy `checkpoint` after the one job that materializes it, with the
    * rows that job counted as its statistics. */
  def measured(checkpoint: DataFrame): DataFrame = {
    val r = checkpoint.queryExecution.logical.asInstanceOf[LogicalRDD]
    val rows = r.rdd.count()
    val session = checkpoint.sparkSession.asInstanceOf[SparkSession]
    val stats = Statistics(EstimationUtils.getSizePerRow(r.output) * rows,
      Some(rows))
    Dataset.ofRows(session, r.copy()(session, Some(stats), Some(r.constraints)))
  }
}
