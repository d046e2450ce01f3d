package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase distributed ranking (SURVEY.md §4.2 scale discipline).
  *
  * `Window.partitionBy(group).orderBy(key)` funnels EVERY row of a group
  * through one window task — correct, and fine at sf0.1, but the 100 TB
  * killer when the group is a whole source / a third of the corpus / the
  * entire table. This module computes the identical `row_number` ranks the
  * way a distributed sort does (the TeraSort range-partition idea, same
  * two-phase shape as [[Packing.shardManifest]]):
  *
  *   phase 1 — group per (part, bucket) where `bucket` is a MONOTONE
  *   coarsening of the leading order key (contiguous id range, value band,
  *   hash-hex prefix). The bucket table is bounded (domain- or
  *   width-bounded, never corpus-proportional) and its exclusive prefix
  *   counts are the only small-table window.
  *
  *   phase 2 — broadcast the offsets and rank WITHIN each (part, bucket):
  *   global rank = bucket offset + in-bucket row_number. Each window task
  *   holds one bucket, not one group.
  *
  * For order-STATISTIC picks (quantile bounds, decile boundaries, gate
  * cuts) phase 2 shrinks further: only the bucket whose count interval
  * straddles a requested position is ranked at all — the corpus-sized
  * input is touched by one map-side-partial aggregate plus one
  * broadcast-pruned window over a handful of buckets.
  *
  * Caller contract: `bucket` must order consistently with the leading
  * `order` column (x ≤ y ⇒ bucket(x) ≤ bucket(y)) and `order` must be a
  * total order within a bucket; both are what make offset + in-bucket rank
  * equal the global rank.
  */
object Ranks {

  private def keyed(partCols: Seq[String]): Seq[String] = partCols :+ "_bkt"

  /** The internal scratch names each entry point materializes on caller
    * frames. A caller column with one of these names (or a `_r_<key>`
    * rename target in [[joinNullSafe]]) would be silently overwritten or
    * dropped — wrong ranks with no error — so every public entry point
    * REJECTS colliding inputs up front (ADVICE r13). */
  private val ScratchCols = Set("_bkt", "_bc", "_off", "_rn")

  private def requireNoCollision(df: DataFrame, what: String): Unit = {
    val clash = df.columns.filter(c =>
      ScratchCols.contains(c) || c.startsWith("_r_"))
    require(clash.isEmpty,
      s"Ranks.$what: input columns ${clash.mkString(", ")} collide with " +
        "internal scratch names (_bkt/_bc/_off/_rn/_r_*) — rename them " +
        "before calling (the two-phase rank would silently overwrite them)")
  }

  /** Inner join on `keys` with NULL-SAFE equality, keeping the left
    * side's key columns. A plain using-join drops every row whose bucket
    * (or part key) is null — but a null order key is a legal input the
    * naive window ranks FIRST (Spark ascending order), and the null
    * bucket sorts first in the offsets prefix for the same reason, so
    * rank equivalence holds exactly iff the joins are null-safe. */
  private[graft] def joinNullSafe(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    // rename-then-join: the two sides share lineage (offsets derive from
    // the ranked frame), so joining on same-named columns trips Spark's
    // self-join attribute dedup — fresh aliases sidestep it entirely
    val r2 = keys.foldLeft(right)((d, k) => d.withColumnRenamed(k, s"_r_$k"))
    val cond = keys.map(k => left(k) <=> r2(s"_r_$k")).reduce(_ && _)
    left.join(r2, cond).drop(keys.map(k => s"_r_$k"): _*)
  }

  /** Phase 1: per (part, bucket) row count `_bc` and exclusive prefix
    * offset `_off` (rows in earlier buckets of the same part group). The
    * prefix window runs over the bounded bucket table — the legitimate
    * small-data window user (same posture as [[Packing.shardManifest]]).
    * Checkpointed: every consumer (totals, candidate prune, rank attach)
    * reuses the one corpus aggregate instead of re-scanning. Not lazily,
    * although `eager = false`: with AQE on, the map stages of the plan's
    * exchanges run at the `localCheckpoint` call. */
  def bucketOffsets(df: DataFrame, partCols: Seq[String],
      bucket: Column): DataFrame = {
    requireNoCollision(df, "bucketOffsets")
    val counts = df.withColumn("_bkt", bucket)
      .groupBy(keyed(partCols).map(col): _*)
      .agg(count(lit(1)).as("_bc"))
    val wOff = Window.partitionBy(partCols.map(col): _*).orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.withColumn("_off", coalesce(sum("_bc").over(wOff), lit(0L)))
      .localCheckpoint(eager = false)
  }

  /** Per-part totals off the phase-1 table: (partCols..., `n`). */
  def totals(offsets: DataFrame, partCols: Seq[String]): DataFrame =
    if (partCols.isEmpty) offsets.agg(sum("_bc").as("n"))
    else offsets.groupBy(partCols.map(col): _*).agg(sum("_bc").as("n"))

  /** Two-phase global `row_number` over (`order`...) within each part
    * group: adds `rnName` (long) to `df`. Identical values to
    * `row_number().over(Window.partitionBy(part).orderBy(order))`, but no
    * window task ever holds more than one bucket. */
  def rowNumber(df: DataFrame, partCols: Seq[String], bucket: Column,
      order: Seq[Column], rnName: String): DataFrame = {
    requireNoCollision(df, "rowNumber")
    require(!ScratchCols.contains(rnName) && !rnName.startsWith("_r_"),
      s"rnName '$rnName' collides with Ranks internal scratch names")
    val offs = bucketOffsets(df, partCols, bucket)
      .select(keyed(partCols).map(col) :+ col("_off"): _*)
    val wIn = Window.partitionBy(keyed(partCols).map(col): _*)
      .orderBy(order: _*)
    joinNullSafe(df.withColumn("_bkt", bucket), broadcast(offs),
        keyed(partCols))
      .withColumn(rnName, col("_off") + row_number().over(wIn))
      .drop("_bkt", "_off")
  }

  /** Per-group type-1 percentile BOUNDS via the straddling-bucket pick:
    * one row per part group with `loName`/`hiName` = the `valueCol` at
    * positions max(1, ⌈loPct·n/100⌉) and max(1, ⌈hiPct·n/100⌉) of the
    * (order...) total order — the shared scaffold of q_winsorize /
    * q_ppl_filter / q_iqr_fences (any fix to the position arithmetic
    * lands HERE once). */
  def percentileBounds(df: DataFrame, partCols: Seq[String], bucket: Column,
      order: Seq[Column], valueCol: String, loPct: Int, hiPct: Int,
      loName: String, hiName: String): DataFrame = {
    require(0 <= loPct && loPct <= hiPct && hiPct <= 100,
      s"need 0 <= loPct <= hiPct <= 100, got $loPct/$hiPct")
    val offs = bucketOffsets(df, partCols, bucket)
    val positions = totals(offs, partCols).selectExpr(partCols :+
      (s"stack(2, 'lo', greatest(CAST(1 AS BIGINT), CAST(ceil($loPct * n / 100.0) AS BIGINT))," +
        s" 'hi', greatest(CAST(1 AS BIGINT), CAST(ceil($hiPct * n / 100.0) AS BIGINT))) AS (stat, pos)"): _*)
    val picked = orderStatAt(df, partCols, bucket, order, valueCol, offs,
      positions, "pos", "_pv")
    picked.groupBy(partCols.map(col): _*)
      .agg(max(when(col("stat") === "lo", col("_pv"))).as(loName),
        max(when(col("stat") === "hi", col("_pv"))).as(hiName))
  }

  /** Type-1 order statistics at caller-chosen positions, ranking ONLY the
    * straddling buckets. `positions` carries (partCols..., any id columns,
    * `posCol`: 1-based long rank); the result is `positions`' columns plus
    * `outName` = the `valueCol` of the row at that global (order...) rank.
    * Positions outside [1, n] yield no row. `offsets` is the matching
    * [[bucketOffsets]] table — pass it in so totals and picks share one
    * corpus aggregate. */
  def orderStatAt(df: DataFrame, partCols: Seq[String], bucket: Column,
      order: Seq[Column], valueCol: String, offsets: DataFrame,
      positions: DataFrame, posCol: String, outName: String): DataFrame = {
    requireNoCollision(df, "orderStatAt")
    requireNoCollision(positions, "orderStatAt(positions)")
    require(!ScratchCols.contains(outName) && !outName.startsWith("_r_"),
      s"outName '$outName' collides with Ranks internal scratch names")
    val cand =
      (if (partCols.isEmpty) offsets.crossJoin(broadcast(positions))
       else joinNullSafe(offsets, broadcast(positions), partCols))
        .filter(col(posCol) > col("_off") &&
          col(posCol) <= col("_off") + col("_bc"))
    val bkts = cand.select(keyed(partCols).map(col) :+ col("_off"): _*)
      .distinct()
    val wIn = Window.partitionBy(keyed(partCols).map(col): _*)
      .orderBy(order: _*)
    val ranked = joinNullSafe(df.withColumn("_bkt", bucket),
        broadcast(bkts), keyed(partCols))
      .withColumn("_rn", col("_off") + row_number().over(wIn))
      .select(keyed(partCols).map(col) :+ col("_rn") :+
        col(valueCol).as(outName): _*)
    joinNullSafe(ranked, broadcast(cand.drop("_off", "_bc")),
        keyed(partCols))
      .filter(col("_rn") === col(posCol))
      .select(positions.columns.map(col) :+ col(outName): _*)
  }
}
