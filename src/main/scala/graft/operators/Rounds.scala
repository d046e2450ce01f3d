package graft.operators

import org.apache.spark.sql.DataFrame

/** The materialize step every round loop shares; the loops keep their own
  * `for`/`while`, since their state shapes differ. */
object Rounds {

  /** A local checkpoint of `df`, materialized by one job (as many as an
    * eager `localCheckpoint`), whose measured row count replaces the
    * estimate a plain checkpoint keeps from the plan it came from, so the
    * planner broadcasts a small round state and shuffles a large one. */
  def materialize(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.measured(df.localCheckpoint(eager = false))
}
