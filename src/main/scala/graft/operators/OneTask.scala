package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The one size check shared by every operator with a one-task path
  * (`Clusters.connectedComponents`, `Clusters.pageRankWeighted`,
  * `PairCounts` behind the shingle-pair and co-purchase queries, and
  * `Temporal.transitions`). Up to
  * [[MaxRows]] input rows the operator runs its whole computation inside
  * ONE task (`coalesce(1).mapPartitions`): a fixed handful of Spark jobs
  * instead of a distributed plan whose scheduling cost dominates a small
  * input. Above the cap the operator's distributed plan is the scale
  * path. */
private[graft] object OneTask {

  /** Largest input a one-task path runs, sized like a broadcast
    * threshold: 4M rows ≈ 64 MB of longs. The one cap for every operator
    * with a one-task path. The pair-count kernel's work is superlinear
    * (Σ df² pairs), so the cap was measured for it too: the one task beat
    * the distributed join at every size up to 4M rows (SCALE.md,
    * near-dup). */
  val MaxRows = 4000000

  /** Whether `df` has at most [[MaxRows]] rows: a count of its rows in
    * ONE job of one stage that writes no shuffle (`toRdd.count()`).
    * The graph and pair-count callers pass a frame over a
    * `localCheckpoint(eager = false)` input, so when the checkpointed plan
    * has no exchange this pass is the one that fills the checkpoint both
    * paths then read. Over an exchange the checkpoint is not lazy with AQE
    * on: building its RDD executes the adaptive plan, which runs the map
    * stages at the `localCheckpoint` call, and this count then reads their
    * shuffle. `Temporal.transitions` passes a table projection without a
    * checkpoint, so its kernel reads the input a second time. Above the
    * cap it is still one full pass over the input, but never a shuffle.
    * A `limit(cap+1).count()` is not cheaper: it plans a SinglePartition
    * exchange behind a local limit, two jobs with each map task writing up
    * to cap+1 rows to one reducer. */
  def fits(df: DataFrame): Boolean =
    df.queryExecution.toRdd.count() <= MaxRows

  /** Key types whose JVM equality (`Row.get`) is SQL equality — the ones a
    * one-task path can key a hash map by. Doubles (−0.0, NaN), binary and
    * collated strings compare differently and take the distributed plan. */
  val KeyTypes: Set[DataType] =
    Set(StringType, LongType, IntegerType, ShortType, ByteType)

  /** Numbers 64-bit keys 0, 1, … in order of first sight and counts each
    * key's occurrences (`counts`): a primitive open-addressing table
    * (linear probing on a Fibonacci hash, grown at half load), so a key
    * costs one probe and no boxing. */
  final class KeyIndex {
    private var shift = 54 // 64 − log2(slots)
    private var slotKey = new Array[Long](1 << 10)
    private var slotIdx = new Array[Int](1 << 10) // key index + 1; 0 = free
    var counts = new Array[Int](1 << 9) // per key index; half the slots
    var size = 0

    private def slotOf(key: Long): Int =
      ((key * 0x9E3779B97F4A7C15L) >>> shift).toInt

    /** `key`'s index, numbering it if new; counts one occurrence. */
    def add(key: Long): Int = {
      val mask = slotIdx.length - 1
      var s = slotOf(key)
      while (slotIdx(s) != 0 && slotKey(s) != key) s = (s + 1) & mask
      val k = if (slotIdx(s) != 0) slotIdx(s) - 1 else {
        slotKey(s) = key; slotIdx(s) = size + 1; size += 1
        if (2 * size > mask) grow()
        size - 1
      }
      counts(k) += 1
      k
    }

    private def grow(): Unit = {
      val (oldKey, oldIdx) = (slotKey, slotIdx)
      shift -= 1
      slotKey = new Array[Long](2 * oldKey.length)
      slotIdx = new Array[Int](2 * oldIdx.length)
      counts = java.util.Arrays.copyOf(counts, oldIdx.length)
      val mask = slotIdx.length - 1
      for (o <- oldIdx.indices if oldIdx(o) != 0) {
        var s = slotOf(oldKey(o))
        while (slotIdx(s) != 0) s = (s + 1) & mask
        slotKey(s) = oldKey(o); slotIdx(s) = oldIdx(o)
      }
    }
  }
}
