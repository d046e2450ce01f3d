package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The one size check shared by every operator with a one-task path
  * (`Clusters.connectedComponents`, `Clusters.pageRankWeighted`, the
  * shingle-pair counting behind `Dedup.ngramJaccardPairs` and
  * `Dedup.containmentPairs`). Up to [[MaxRows]] input rows the operator
  * runs its whole computation inside ONE task (`coalesce(1)
  * .mapPartitions`): a fixed handful of Spark jobs instead of a
  * distributed plan whose scheduling cost dominates a small input. Above
  * the cap the operator's distributed plan is the scale path. */
private[graft] object OneTask {

  /** Largest input a one-task path runs, sized like a broadcast
    * threshold: 4M rows ≈ 64 MB of longs. The one cap for every operator
    * with a one-task path. The shingle-pair kernel's work is superlinear
    * (Σ df² pairs), so the cap was measured for it too: the one task beat
    * the distributed join at every size up to 4M rows (SCALE.md,
    * near-dup). */
  val MaxRows = 4000000

  /** Whether `df` has at most [[MaxRows]] rows: a count of its rows in
    * ONE job of one stage that writes no shuffle (`toRdd.count()`).
    * Every caller passes a frame over a lazily checkpointed input, so the
    * pass is the one that materializes the checkpoint both paths then
    * read: above the cap it is still one full pass over the input, but
    * never a shuffle. A `limit(cap+1).count()` is not cheaper: it plans a
    * SinglePartition exchange behind a local limit, two jobs with each map
    * task writing up to cap+1 rows to one reducer. */
  def fits(df: DataFrame): Boolean =
    df.queryExecution.toRdd.count() <= MaxRows

  /** Key types whose JVM equality (`Row.get`) is SQL equality — the ones a
    * one-task path can key a hash map by. Doubles (−0.0, NaN), binary and
    * collated strings compare differently and take the distributed plan. */
  val KeyTypes: Set[DataType] =
    Set(StringType, LongType, IntegerType, ShortType, ByteType)
}
