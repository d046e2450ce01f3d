package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout mechanics for 100 TB operation (SURVEY.md §4.2): the
  * techniques that keep the big joins/aggregations from shuffling the fact
  * table — bucketing for co-located joins, salting for skewed keys,
  * partitioned layout for pruning. Verified at plan level in LayoutSpec.
  */
object Layout {

  /** Persist a table bucketed+sorted by its join key. Two tables bucketed
    * the same way join with ZERO exchange — at 100 TB this converts the
    * nightly fact⋈fact join from a full-cluster shuffle into a local merge
    * per bucket. (Parquet + catalog table; bucket metadata lives in the
    * metastore.) */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Skew-safe join of a fact table against a dimension when a handful of
    * fact keys dominate: the fact side gets a deterministic salt derived
    * from `saltSource` (any well-distributed fact column), the dim side is
    * exploded `salts`× so every (key, salt) pair still matches. The hot
    * key's rows now spread over `salts` reducers instead of one straggler.
    * Result set is identical to the unsalted join (verified in LayoutSpec).
    * AQE's skew-join split handles moderate skew automatically; explicit
    * salting is for the pathological keys AQE cannot split (e.g. a single
    * key bigger than an executor). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltSource: Column, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt", pmod(hash(saltSource), lit(salts)))
    val saltedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedDim, Seq(key, "_salt")).drop("_salt")
  }

  /** Small-file compaction: rewrite a parquet directory into
    * `targetFiles` right-sized files. Streaming micro-batch sinks and
    * over-parallel writes accumulate thousands of tiny files; at 100 TB the
    * file count (not the bytes) becomes the scan-planning and
    * namenode/listing bottleneck — periodic compaction is table
    * maintenance, not an optimization. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(path.stripSuffix("/") + "__compacting")
    val bak = new Path(path.stripSuffix("/") + "__precompact")
    spark.read.parquet(path)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val dst = new Path(path)
    // resolve the filesystem from the path (the default FS may differ)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash-safe swap: original aside, rewrite in, then drop the old copy —
    // at no point is the only copy of the table deleted. FileSystem.rename
    // reports failure by RETURNING FALSE (not throwing), so each step is
    // checked and the original is restored on a failed swap.
    if (fs.exists(bak)) fs.delete(bak, true)
    if (!fs.rename(dst, bak))
      throw new java.io.IOException(s"compact: could not move $dst aside")
    if (!fs.rename(tmp, dst)) {
      // restore the original before giving up; if even the restore fails,
      // say exactly where the sole surviving copy sits
      if (!fs.rename(bak, dst))
        throw new java.io.IOException(
          s"compact: swap failed AND restore failed — data is at $bak")
      throw new java.io.IOException(s"compact: could not move $tmp into place")
    }
    fs.delete(bak, true)
  }

  /** Keyed upsert (merge): rows from `updates` replace base rows with the
    * same key; unmatched base rows survive, new keys append. The engine's
    * batch analog of the reference's config upsert semantics — and the
    * merge shape a snapshot+increment pipeline runs nightly. One anti-join
    * (same shuffle key as the union write) — no row-by-row driver logic. */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    base.join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates)

  /** Incremental aggregate maintenance — the materialized-view merge step:
    * combine per-key PARTIAL aggregates (count + sum, the mergeable
    * algebra) from a base view and a delta batch into the refreshed view,
    * with avg derived at read time. At 100 TB the base is never
    * re-aggregated: each refresh shuffles only the delta's partials plus
    * one key-aligned merge — the nightly upkeep cost is O(delta), not
    * O(corpus). Keys absent from one side merge as zero (union algebra);
    * the derived avg is ONE double division at the end, so merged results
    * are bit-identical to a from-scratch aggregate over base ∪ delta. */
  def mergePartialAggs(base: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame =
    base.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("cnt").as("cnt"), sum("total").as("total"))

  /** The per-key partial aggregate [[mergePartialAggs]] consumes:
    * (keys..., cnt, total). ONE definition shared by the base build and
    * every delta batch — the two sides must agree or the merge silently
    * double-counts. */
  def partialAgg(df: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(col(valueCol)).as("total"))

  /** Snapshot diff — the nightly data-governance report between two corpus
    * versions: each id is `added` (new only), `removed` (old only),
    * `changed` (both, content digest differs) or `unchanged`. The full
    * outer join moves (id, 32-byte digest) pairs only — at 100 TB the
    * documents themselves never shuffle, and the sha256 key is uniform by
    * construction (no skew). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), sha2(col(textCol), 256).as("h_old"))
    val n = newDf.select(col(idCol).as("id"), sha2(col(textCol), 256).as("h_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Equal-width bin id in [0, nbins) for `x` given column-level min/max
    * (typically from a one-row broadcast aggregate). The expression shape
    * (`(x − mn) / (mx − mn) * nbins`, floor, clamp) is mirrored verbatim in
    * the DuckDB oracle — identical IEEE op order makes the bin ids
    * bit-exact across engines. Degenerate range (mx == mn) puts every row
    * in bin 0. */
  def rangeBin(x: Column, mn: Column, mx: Column, nbins: Int): Column =
    when(mx > mn,
      least(greatest(floor((x - mn) / (mx - mn) * lit(nbins.toDouble)),
        lit(0)), lit(nbins - 1)).cast("long"))
      .otherwise(lit(0L))

  /** Z-order (Morton) value: interleave the low `bits` bits of two bin-id
    * columns — binA occupies the odd bit positions, binB the even ones.
    * Sorting or range-partitioning by this value clusters rows so every
    * contiguous z-range covers a tight BOX in (A, B) space: a file holding
    * one 2k-bit z-prefix spans at most 2^(bits−k) bins on EACH dimension,
    * so parquet min/max stats prune multi-dimensional box predicates —
    * the layout trick a single-column sort cannot do (it leaves the second
    * dimension's span unbounded per file). Pure shifts/ands/adds on longs:
    * codegen'd, and reproducible bit-for-bit in the oracle's SQL. */
  def zorderValue(binA: Column, binB: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(binA, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(binB, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  /** Hilbert-curve index of a (binA, binB) grid point — the locality
    * upgrade over [[zorderValue]]: consecutive Hilbert values are ALWAYS
    * grid neighbours (Morton jumps across the plane at power-of-two
    * boundaries), so contiguous at-rest ranges cover even tighter boxes
    * and 2-D box predicates prune better at the file tail. Standard
    * top-down x,y→d conversion (Hilbert 1891; the bit-twiddling form of
    * Butz/Lawder): per level, quadrant digit (3·rx)⊕ry weighted s², then
    * reflect-and-swap the frame. The level loop is state-dependent —
    * unrollable as independent bit ops like Morton it is NOT — so it runs
    * as ONE `aggregate` fold over a static `bits`-element sequence
    * carrying (x, y, d, s): linear expression size, codegen'd, no UDF,
    * and mirrored level-for-level by [[hilbertOracleCtes]]. */
  def hilbertValue(binA: Column, binB: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val init = struct(binA.cast("long").as("x"), binB.cast("long").as("y"),
      lit(0L).as("d"), lit(1L << (bits - 1)).as("s"))
    aggregate(
      sequence(lit(1), lit(bits)),
      init,
      (acc, _) => {
        val x = acc.getField("x"); val y = acc.getField("y")
        val d = acc.getField("d"); val s = acc.getField("s")
        val rx = when(x.bitwiseAND(s) > 0, 1L).otherwise(0L)
        val ry = when(y.bitwiseAND(s) > 0, 1L).otherwise(0L)
        struct(
          when(ry === 0, when(rx === 1, s - 1 - y).otherwise(y))
            .otherwise(x).as("x"),
          when(ry === 0, when(rx === 1, s - 1 - x).otherwise(x))
            .otherwise(y).as("y"),
          (d + s * s * (lit(3L) * rx).bitwiseXOR(ry)).as("d"),
          shiftright(s, 1).as("s"))
      }).getField("d")
  }

  /** Unrolled DuckDB CTE chain mirroring [[hilbertValue]] level for level.
    * The caller provides `l0(idCol, x, y, d, s)` with d = 0 and
    * s = 2^(bits−1); the result of level `bits` carries the final d. */
  def hilbertOracleCtes(idCol: String, bits: Int): String =
    (0 until bits).map { i =>
      s"""l${i + 1} AS (
         |  SELECT $idCol,
         |    CASE WHEN (y & s) = 0 THEN
         |      (CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END)
         |    ELSE x END AS x,
         |    CASE WHEN (y & s) = 0 THEN
         |      (CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END)
         |    ELSE y END AS y,
         |    d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
         |      (CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END)) AS d,
         |    s // 2 AS s
         |  FROM l$i)""".stripMargin
    }.mkString(",\n")

  /** Persist a table z-order-clustered into `files` parquet files: range-
    * partition by the z value (contiguous z-ranges per file), sort within
    * each file so row groups get tight min/max stats on BOTH clustered
    * dimensions. At 100 TB this is the at-rest layout for workloads that
    * filter on two correlated-selectivity columns at once (e.g. time × node,
    * value × type); file- and row-group-level stats pruning then skips the
    * overwhelming majority of IO for any 2-D box predicate. Verified in
    * LayoutSpec: per-file spans of both dimensions are bounded, where a
    * hash-partitioned write leaves them at full range. */
  def writeZOrdered(df: DataFrame, path: String, zCol: Column,
      files: Int): Unit =
    df.withColumn("_z", zCol)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Two-phase aggregation with an explicit salt: partial per (key, salt),
    * final per key. Spark's hash aggregate already does map-side partials;
    * the explicit form is for aggregations where a single group's partial
    * state itself is too big for one reducer (giant distinct sets, huge
    * collect_list) — the salt bounds per-reducer state. */
  def saltedAgg(df: DataFrame, key: String, valueCol: String,
      saltSource: Column, salts: Int): DataFrame =
    df.withColumn("_salt", pmod(hash(saltSource), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(sum(col(valueCol)).as("_partial_sum"),
        count(lit(1)).as("_partial_n"))
      .groupBy(col(key))
      .agg(sum("_partial_sum").as("sum_value"), sum("_partial_n").as("n"))
}
