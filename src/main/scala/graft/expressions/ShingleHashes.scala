package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The xxhash64 (seed 42) of each DISTINCT word `n`-gram of a text, in
  * first-occurrence order, in ONE pass over the text's bytes.
  *
  * Bit-identical to the higher-order formulation it replaces,
  * `transform(array_distinct(wordShingles(text, n)), s -> xxhash64(s))`
  * (values and order), for UTF8_BINARY text:
  *  - a null text gives an empty array (`wordShingles` gives an empty one);
  *  - tokens are `split(text, " ")` with limit −1, so leading, doubled and
  *    trailing spaces yield empty tokens, and an empty text is one empty
  *    token;
  *  - a text with fewer than `n` tokens gives zero shingles;
  *  - shingle `i` is tokens i..i+n−1 joined by single spaces, i.e. the
  *    text's own byte range from token i's first byte to token i+n−1's
  *    last, hashed in place like Spark's `xxhash64` of a string;
  *  - `split` decodes through `toString`, so malformed UTF-8 becomes
  *    U+FFFD: an invalid text is re-encoded that way before splitting;
  *  - repeats are removed by byte equality, so two different shingles with
  *    equal hashes both stay, as `array_distinct` on the strings keeps
  *    them.
  * Collated text compares and hashes by its collation, so it keeps the
  * higher-order formulation (`Dedup.shingleKeys` dispatches on the type).
  *
  * Why an expression: per shingle the HOF form pays an interpreted lambda
  * for the `n` zipped slices, a string concat, the `array_distinct` of
  * strings and a second interpreted lambda for the hash. This kernel finds
  * the token starts in one scan, hashes each byte range without copying,
  * and dedups hashes in a primitive open-addressing table that compares
  * bytes only on a hash match. CodegenFallback like [[MinhashMd5]]: the
  * per-byte loops dominate, not expression dispatch. */
case class ShingleHashes(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a UTF8_BINARY string, got " +
        child.dataType.catalogString)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null || n < 1) return empty
    val raw = v.asInstanceOf[UTF8String]
    val s = if (raw.isValid) raw else UTF8String.fromString(raw.toString)
    val (base, off, len) = (s.getBaseObject, s.getBaseOffset, s.numBytes)
    var tokens = 1
    var p = 0
    while (p < len) {
      if (Platform.getByte(base, off + p) == ' ') tokens += 1
      p += 1
    }
    val m = tokens - n + 1
    if (m <= 0) return empty
    // start(t) = token t's first byte; a virtual token starts at len + 1,
    // so token t ends at start(t + 1) − 1
    val start = new Array[Int](tokens + 1)
    var t = 1
    p = 0
    while (p < len) {
      if (Platform.getByte(base, off + p) == ' ') { start(t) = p + 1; t += 1 }
      p += 1
    }
    start(tokens) = len + 1
    // open addressing over kept shingles: slot → shingle index + 1 (0 =
    // free), with its hash beside it
    val mask = (Integer.highestOneBit(m) << 2) - 1
    val slotOf = new Array[Int](mask + 1)
    val slotHash = new Array[Long](mask + 1)
    val out = new Array[Long](m)
    var kept = 0
    var i = 0
    while (i < m) {
      val from = start(i)
      val size = start(i + n) - 1 - from
      val h = XXH64.hashUnsafeBytes(base, off + from, size, 42L)
      var slot = h.toInt & mask
      var seen = false
      while (!seen && slotOf(slot) != 0) {
        if (slotHash(slot) == h) {
          val j = slotOf(slot) - 1
          seen = start(j + n) - 1 - start(j) == size &&
            ByteArrayMethods.arrayEquals(base, off + start(j), base,
              off + from, size)
        }
        slot = (slot + 1) & mask
      }
      if (!seen) {
        slotOf(slot) = i + 1
        slotHash(slot) = h
        out(kept) = h
        kept += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, kept, 8)
  }

  private def empty = UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashes = copy(child = newChild)
}
