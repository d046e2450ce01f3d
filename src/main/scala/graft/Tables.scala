package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine queries read through here so that every scan benefits from
  * parquet column pruning + predicate pushdown (Catalyst handles both as long
  * as we stay declarative). At 100 TB these would be partitioned/bucketed
  * tables behind a catalog; the single-parquet layout is the test substrate.
  *
  * Schemas are inferred once. A bare `spark.read.parquet` infers the schema
  * on every call: one Spark job ("parquet at …") that reads a footer, plus
  * driver-side resolution, paid by every query (about 60 ms a load at
  * sf0.1 on 4 vCPUs, from q_pagerank's traced driver time). [[load]]
  * keeps the `StructType` that inference returned and reads with
  * `spark.read.schema(cached)`, which skips inference. The cache key is
  * everything that can change what inference returns:
  *  - the table's leaf files, each with path, length and modification time
  *    (listed on every load, so a table rewritten at the same path is
  *    inferred again);
  *  - the settings the parquet schema converter and footer merge read
  *    ([[SchemaConfs]]), e.g. `nanosAsLong` and `inferTimestampNTZ.enabled`.
  *
  * Only the schema is kept, never a DataFrame or relation: each load still
  * builds a new plan with fresh attribute ids and a fresh file index, so
  * self-joins of two loads, rewritten tables and [[registerViews]] behave as
  * with a bare read, and the cache holds no `SparkSession`. MEASURED AND
  * REJECTED (in a prototype): caching the resolved relation saved about
  * 9 ms more per load, but it pins a session and a file index (which goes
  * stale) in a JVM-global map.
  *
  * At 100 TB the listing is the cost that remains (two per load: the
  * key's and the new file index's), and it grows with the file count; a
  * catalog (metastore or table format) holds both the schema and the file
  * list, and would replace this cache there.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, SchemaConfs.map(spark.conf.getOption))
    leafFiles(spark, path) match {
      case Some(files) => Option(schemas.get(key)) match {
        case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemas.put(key, (files, df.schema))
          df
      }
      case None => spark.read.parquet(path)
    }
  }

  /** SQL settings that change the schema parquet inference returns: the
    * ones `ParquetToSparkSchemaConverter` reads, and those choosing which
    * footers are merged. */
  private val SchemaConfs = Seq(
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.respectSummaryFiles")

  /** (path, settings) → (leaf files at inference, inferred schema). One
    * entry per table and settings: a rewrite replaces its entry. */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (Seq[(String, Long, Long)], StructType)]()

  /** Every file under `path` (or `path` itself) as (path, length,
    * modification time), sorted; None when `path` does not exist, so the
    * bare read raises Spark's own error. The same files as
    * `listFiles(path, recursive = true)`, hidden ones included, but walked
    * with `listStatus`: `listFiles` builds a `LocatedFileStatus`, which
    * reads each file's permissions, and without native Hadoop that starts
    * one `ls -ld` process per file. */
  private[graft] def leafFiles(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
      else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
    try Some(walk(fs.getFileStatus(p)).sorted)
    catch { case _: FileNotFoundException => None }
  }

  /** Scan-parallelism repair (optimization r14, guide §2.5 "input skew: one
    * huge unsplittable file … repartition immediately after the read"): the
    * driver's test parquet is ONE row group per table, so a bare scan yields
    * ONE non-empty split and every per-row expression in the scan stage
    * (decimal moments, tokenize+shingle explodes, hash kernels) runs
    * single-threaded regardless of `local[N]` — jstack-confirmed (31 of 32
    * executor threads parked through q_corr's moment aggregate; 6.6 s
    * single-task vs 2.2 s repartitioned).
    *
    * OPT-IN, not applied in [[load]]: a round-robin exchange changes which
    * physical row arrives first at a downstream sort, and a handful of
    * row-emitting queries order by keys the generated data does not keep
    * unique (e.g. duplicate (l_orderkey, l_linenumber) pairs made
    * q_scan_parquet/q_math_funcs tie-swap against the oracle — caught by the
    * sf0.01 gate when this was briefly a blanket load() rule). Callers must
    * therefore be ORDER-IMMUNE: their output a pure function of the input
    * MULTISET (exact integer aggregates, value-histogram ranks, count-keyed
    * joins) — the repo's stated design discipline for every statistical
    * operator. The repair is also scale-adaptive rather than a local-mode
    * constant: it fires only when the planned scan has fewer splits than
    * the session's default parallelism, so at production scale (many row
    * groups/files ⇒ splits ≥ cores) it is a no-op by construction;
    * sortBeforeRepartition stays ON, so task retries are deterministic
    * (SPARK-38388). */
  def parallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` has been generated in multiple parquet encodings across
    * driver runs; this loader normalizes every one of them to TimestampType
    * (micros, UTC session) so downstream `unix_micros(ts)` sites never care:
    *
    *  - TIMESTAMP(NANOS): Spark 4 has no default mapping
    *    ([PARQUET_TYPE_ILLEGAL]); read as raw nanos via the legacy conf, then
    *    integer-divide to micros (`div` — double division loses precision
    *    above 2^53, and ns epochs are ~1.7e18).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ by default; cast to TimestampType. Sessions are pinned
    *    to UTC (build.sbt / Verify / Bench), so the cast is value-exact and
    *    matches what DuckDB reads for the oracle.
    *  - TIMESTAMP(MICROS, adjusted): already TimestampType — pass through.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", raw("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view so a SQL-ONLY consumer can drive
    * the engine through `spark.sql(...)` alone — the SQL twin of the Scala
    * registry, mirroring how the reference exposed its control surface over
    * HTTP rather than a host-language API. Views go through the SAME
    * loaders as the Scala queries (the events timestamp normalization
    * included), so SQL and Scala read identical data. Canonical examples
    * live in README.md §"SQL entry point" and are smoke-tested in
    * SqlSurfaceSpec. */
  def registerViews(s: SparkSession, d: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem").foreach(n => load(s, d, n).createOrReplaceTempView(n))
    events(s, d).createOrReplaceTempView("events")
    documents(s, d).createOrReplaceTempView("documents")
    embeddings(s, d).createOrReplaceTempView("embeddings")
  }

  /** Register an at-rest IVF-PQ layout (written by
    * `Similarity.writeIvfPqLayout`) as `<prefix>_codes` / `<prefix>_cells`
    * / `<prefix>_codebooks` temp views. `<prefix>_codes` is the COMMITTED
    * SERVING SNAPSHOT — base ∪ committed streaming deltas, the exact
    * definition `Similarity.probeIvfPqLayoutAll` serves — so a SQL
    * consumer reads the same index the Scala probe does, and can run the
    * whole ANN read path via `Similarity.annProbeSql` without touching
    * the Scala API (README §"SQL entry point"; parity is spec-proven in
    * SqlSurfaceSpec). */
  def registerLayoutViews(s: SparkSession, layoutDir: String,
      prefix: String = "ann"): Unit = {
    graft.operators.Similarity.committedCodes(s, layoutDir)
      .createOrReplaceTempView(s"${prefix}_codes")
    Seq("cells", "codebooks").foreach { n =>
      s.read.parquet(s"$layoutDir/$n").createOrReplaceTempView(s"${prefix}_$n")
    }
  }

  /** Register an at-rest MinHash signature store (the `Dedup
    * .signatureStore` format, grown by `Streams.nearDedupSinkBatch`
    * deltas) as a temp view `(doc, shingles, bk)` — the store side of the
    * near-dedup read path, so a SQL-only consumer can run
    * `Dedup.nearDupProbeSql` against it. */
  def registerSignatureStoreView(s: SparkSession, storeDir: String,
      name: String = "sig_store"): Unit =
    graft.operators.DeltaStore.snapshotPureDelta(s, storeDir)
      .getOrElse(throw new IllegalArgumentException(
        s"no signature store at $storeDir"))
      .select("doc", "shingles", "bk")
      .createOrReplaceTempView(name)
}
