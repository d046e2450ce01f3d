package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ordered event-funnel analysis: how many users progress through a named
  * stage sequence (each stage strictly AFTER the previous one completed),
  * and how long the journey to each stage takes. The classic product /
  * conversion query over an event stream, and — for a training-data
  * pipeline — the acceptance funnel over curation events (ingested →
  * language-passed → quality-passed → packed).
  *
  * Semantics: per user, t₁ = min ts of a stage-1 event; tᵢ (i > 1) =
  * min ts of a stage-i event with ts strictly GREATER than tᵢ₋₁. A user
  * "reaches" stage i iff tᵢ exists. Strict `>` means two stages sharing a
  * timestamp do NOT both count — the conservative reading, and the one an
  * independent engine reproduces without tiebreak conventions.
  *
  * Scale shape: K−1 rounds of (stage-filtered events ⋈ reached-so-far on
  * the user key) + a min aggregate — every step is a hash join / map-side-
  * partial aggregate on `user`, never a per-user sorted event array (the
  * single-pass state-machine formulation materializes unbounded per-user
  * arrays; a power user with 10⁷ events is one fat row there, while here
  * it is just more rows in a hash aggregate). The reached set only ever
  * SHRINKS stage over stage, and after the first aggregate it stays
  * hash-partitioned on `user`, so later rounds reuse the partitioning.
  * Journey-time sums run in DECIMAL(38,0): 10¹⁰ users × ~10¹⁵ micros
  * overflows int64 at corpus scale.
  */
object Funnel {

  /** Per-stage funnel summary over `events`: one row per stage with the
    * reach count, conversion permille from stage 1, and the average
    * journey seconds from stage-1 completion (exact integer arithmetic:
    * `(Σ(tᵢ−t₁) div 10⁶) div reachedᵢ`; 0 for stage 1, null when nobody
    * reaches the stage). */
  def funnelStages(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got $stages")
    require(stages.distinct.size == stages.size, s"duplicate stage in $stages")
    val spark = events.sparkSession
    val e = events
      .select(col(userCol).as("u"), col(typeCol).as("et"),
        unix_micros(col(tsCol)).as("tus"))
      .filter(col("et").isin(stages: _*))
      .localCheckpoint(eager = false) // scanned once per stage round
    // not Rounds.materialize: 1.18-1.31x slower by paired A/B at sf0.1
    // reached(i): (u, t1, ti) for users who completed stages 1..i
    var reached = e.filter(col("et") === stages.head)
      .groupBy("u").agg(min("tus").as("ti"))
      .withColumn("t1", col("ti"))
    val stats = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    stats += stageRow(spark, reached, 1, stages.head)
    for (i <- 2 to stages.size) {
      reached = e.filter(col("et") === stages(i - 1))
        .join(reached.select(col("u"), col("t1"), col("ti").as("tprev")), "u")
        .filter(col("tus") > col("tprev"))
        .groupBy("u", "t1").agg(min("tus").as("ti"))
      stats += stageRow(spark, reached, i, stages(i - 1))
    }
    val perStage = stats.reduce(_ unionAll _)
    val base = perStage.filter(col("stage") === 1)
      .select(col("users_reached").as("r1"))
    perStage.crossJoin(broadcast(base))
      .select(col("stage"), col("stage_name"), col("users_reached"),
        when(col("r1") > 0, expr("(users_reached * 1000) div r1"))
          .otherwise(lit(0L)).cast("long").as("conv_permille"),
        col("avg_s_from_start"))
      .orderBy("stage")
  }

  /** One summary row for a reached set: count + exact-integer average
    * journey seconds (sum in DECIMAL(38,0) — int64 overflows at 10¹⁰
    * users × 10¹⁵ micros — then two integral divides, micros→s first so
    * the rounding order is pinned for the oracle). */
  private def stageRow(spark: SparkSession, reached: DataFrame, i: Int,
      name: String): DataFrame =
    reached.agg(
        count(lit(1)).as("users_reached"),
        sum((col("ti") - col("t1")).cast("decimal(38,0)")).as("j_us"))
      .select(
        lit(i.toLong).as("stage"), lit(name).as("stage_name"),
        col("users_reached"),
        when(col("users_reached") > 0,
            expr("(j_us div 1000000) div users_reached"))
          .otherwise(lit(null)).cast("long").as("avg_s_from_start"))
}
