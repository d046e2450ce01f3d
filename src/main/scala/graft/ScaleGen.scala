package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: upsamples the driver's sf0.1 tables by
  * an integer replica factor R into a new directory with the SAME schemas,
  * so `Bench`/`Verify` can run unmodified against sf0.5 / sf1 / sf2 data
  * and turn SCALE.md's 100 TB arguments into measured scaling exponents.
  *
  * The testdata itself is read-only (TESTDATA.md) and its generator is the
  * driver's; this is NOT a second source of correctness truth — it exists
  * only to measure how plan cost grows with data volume. Replication is
  * designed so the WORKLOAD-relevant structure scales the way a real 10×
  * corpus would, instead of degenerating:
  *
  *  - Entity keys shift by `rep * (max_key + 1)` consistently across every
  *    FK edge (orders.o_custkey moves with customer.c_custkey, lineitem's
  *    three FKs with their parents), so join fan-outs and group counts
  *    scale linearly, never quadratically in R.
  *  - Dimension tables (region, nation) stay fixed — category cardinality
  *    does not grow with corpus size.
  *  - Document TEXT gets a per-replica token suffix (every token of
  *    replica 3 ends in "dd"): intra-replica duplicate/near-duplicate
  *    structure is preserved exactly while cross-replica shingle overlap
  *    is zero — a 10× corpus has 10× the dup clusters, NOT 10×-deeper
  *    clusters (which would turn every LSH bucket quadratic and measure a
  *    pathology the real corpus doesn't have). Vocabulary grows ~R×, the
  *    within-replica Zipf shape is untouched.
  *  - Entity NAMES (customer/supplier/part) get a replica suffix so
  *    blocking-based linkage sees R× blocks, not R×-deeper blocks of
  *    byte-identical names.
  *  - Embeddings get a per-replica CYCLIC DIMENSION SHIFT (an orthogonal
  *    transform): intra-replica geometry — norms, cosines, cluster
  *    structure — is preserved exactly, while cross-replica cosines are
  *    incoherent. This is the embedding analog of the disjoint token
  *    suffix: a 10× corpus has 10× the near-dup/cluster structure, NOT
  *    every vector acquiring 9 brand-new near-duplicates. (A first
  *    attempt used ±1e-2 jitter instead; it made each replica a TRUE
  *    near-dup of its original, so near-dup outputs grew quadratically
  *    in R — measured ×10 runtime at R=5 on q_dedup_embed — a generator
  *    pathology, not a property of real 10× corpora.) A small
  *    deterministic jitter is layered on top so replicas are not
  *    byte-permutations either.
  *  - Event timestamps are PRESERVED: a 10× event table is 10× the events
  *    in the same wall-clock span (denser windows, same window count) —
  *    the production meaning of "more traffic".
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> <replicas>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleGen <srcDir> <outDir> <replicas>")
    val Array(srcDir, outDir, repStr) = args
    val reps = repStr.toInt
    require(reps >= 1 && reps <= 100, s"replicas out of range: $reps")
    val spark = LocalSession()
    generate(spark, srcDir, outDir, reps)
    spark.stop()
  }

  /** Two-letter per-replica token suffix ("", "bb", "cc", …): alphabetic so
    * charset-sensitive text operators (lang-id n-grams, quality ratios)
    * see natural-looking tokens. */
  private def tokenSuffix(rep: org.apache.spark.sql.Column) = {
    val letter = substring(lit("abcdefghijklmnopqrstuvwxyz"),
      (rep % 26).cast("int") + 1, lit(1))
    when(rep === 0, lit("")).otherwise(concat(letter, letter))
  }

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      reps: Int): Unit = {
    val repDf = spark.range(reps).toDF("rep")
    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
    def keyBase(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // dimensions: fixed — category cardinality is corpus-independent
    write(src("region"), "region", 1)
    write(src("nation"), "nation", 1)

    val cust = src("customer")
    val custBase = keyBase(cust, "c_custkey")
    write(cust.crossJoin(repDf)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * custBase)
      .withColumn("c_name",
        concat(col("c_name"), tokenSuffix(col("rep"))))
      .drop("rep"), "customer", math.max(1, reps / 2))

    val supp = src("supplier")
    val suppBase = keyBase(supp, "s_suppkey")
    write(supp.crossJoin(repDf)
      .withColumn("s_suppkey", col("s_suppkey") + col("rep") * suppBase)
      .withColumn("s_name",
        concat(col("s_name"), tokenSuffix(col("rep"))))
      .drop("rep"), "supplier", 1)

    val part_ = src("part")
    val partBase = keyBase(part_, "p_partkey")
    write(part_.crossJoin(repDf)
      .withColumn("p_partkey", col("p_partkey") + col("rep") * partBase)
      .withColumn("p_name",
        concat(col("p_name"), tokenSuffix(col("rep"))))
      .drop("rep"), "part", math.max(1, reps / 2))

    val ord = src("orders")
    val ordBase = keyBase(ord, "o_orderkey")
    write(ord.crossJoin(repDf)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * ordBase)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * custBase)
      .drop("rep"), "orders", math.max(2, reps))

    write(src("lineitem").crossJoin(repDf)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * ordBase)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * partBase)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * suppBase)
      .drop("rep"), "lineitem", math.max(4, reps * 2))

    // events: same wall-clock span, R× the density (the production shape of
    // "more traffic"); ids shift so per-user/per-event-id structure is R×
    // the users, not R×-longer per-user histories
    val ev = Tables.events(spark, srcDir)
    val evBase = keyBase(ev, "event_id")
    val userBase = keyBase(ev, "user_id")
    write(ev.crossJoin(repDf)
      .withColumn("event_id", col("event_id") + col("rep") * evBase)
      .withColumn("user_id", col("user_id") + col("rep") * userBase)
      .drop("rep"), "events", math.max(2, reps))

    val docs = src("documents")
    val docBase = keyBase(docs, "doc_id")
    write(docs.crossJoin(repDf)
      .withColumn("doc_id", col("doc_id") + col("rep") * docBase)
      // suffix EVERY token: replica r's shingle space is disjoint from
      // replica 0's, so dup clusters multiply instead of deepening
      .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1"), tokenSuffix(col("rep")))))
      .withColumn("n_chars", length(col("text")))
      .drop("rep"), "documents", math.max(1, reps / 2))

    val emb = src("embeddings")
    val vecBase = keyBase(emb, "vec_id")
    write(emb.crossJoin(repDf)
      // cyclic shift by rep (orthogonal: intra-replica cosines exact,
      // cross-replica incoherent), then ±0.01 deterministic jitter so a
      // replica is not a byte-permutation of its original either
      .withColumn("_sh", expr("CAST(pmod(rep, size(embedding)) AS INT)"))
      .withColumn("embedding", expr(
        """transform(
             concat(slice(embedding, _sh + 1, size(embedding) - _sh),
                    slice(embedding, 1, _sh)),
             (x, i) ->
               CAST(x + (pmod(hash(vec_id, rep, i), 1001) - 500) / 50000.0
               AS FLOAT))"""))
      .drop("_sh")
      .withColumn("vec_id", col("vec_id") + col("rep") * vecBase)
      .drop("rep"), "embeddings", math.max(1, reps / 2))
  }
}
