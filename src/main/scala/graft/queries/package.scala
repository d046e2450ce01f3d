package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared helpers for oracle-checked queries.
  *
  * Determinism discipline (SURVEY.md §5.2): money/double aggregates are summed
  * in decimal (exact and order-independent in both Spark and DuckDB) and cast
  * to double only at the end; every oracle query ends in a total-order
  * `orderBy`.
  */
package object queries {
  /** Decimal-exact sum of a 2-dp money column, surfaced as double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Decimal-exact sum of a product of two 2-dp columns. */
  def dsumProd(a: Column, b: Column): Column =
    sum(a.cast("decimal(18,2)") * b.cast("decimal(18,2)")).cast("double")
}
