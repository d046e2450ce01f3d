package graft.operators

import scala.util.control.ControlThrowable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** The one entry point of every operator with a one-task path
  * (`Clusters.connectedComponents`, `Clusters.pageRankWeighted`,
  * `PairCounts` and `Temporal.transitions`): up to [[MaxRows]] input rows
  * the whole computation runs inside ONE task, one Spark job instead of a
  * distributed plan whose scheduling cost dominates a small input; above
  * the cap the operator's distributed plan is the scale path. */
private[graft] object OneTask {

  /** Largest input a one-task path runs, sized like a broadcast
    * threshold: 4M rows ≈ 64 MB of longs. The one cap for every operator
    * with a one-task path. The pair-count kernel's work is superlinear
    * (Σ df² pairs), so the cap was measured for it too: the one task beat
    * the distributed join at every size up to 4M rows (SCALE.md,
    * near-dup). */
  val MaxRows = 4000000

  private object OverCap extends ControlThrowable

  /** `kernel` over all of `input` in ONE task (`coalesce(1).mapPartitions`;
    * a narrow upstream runs in that task too), its output of `schema`
    * materialized by an eager `localCheckpoint` in the same job, never
    * collected to the driver; or None when `input` weighs more than
    * [[MaxRows]] (a row weighs `weight(row)`). The kernel's read is the
    * size check: it stops at the row past the cap, so an over-cap input
    * costs at most `MaxRows + 1` rows of ingest (`kernel` must read all of
    * its input before it returns), and the task flags it in an
    * accumulator read after the job, so the check costs no job. */
  def run(input: DataFrame, schema: StructType, weight: Row => Int = _ => 1)(
      kernel: Iterator[Row] => Iterator[Row]): Option[DataFrame] = {
    val over = input.sparkSession.sparkContext.longAccumulator
    val out = input.coalesce(1).mapPartitions { rows =>
      var n = 0L
      val counted = rows.map { r =>
        n += weight(r); if (n > MaxRows) throw OverCap; r
      }
      try kernel(counted) catch { case OverCap => over.add(1); Iterator.empty }
    }(Encoders.row(schema)).localCheckpoint(eager = true)
    if (over.isZero) Some(out) else None
  }

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
