package graft

import org.apache.spark.sql.SparkSession

/** The one local session the mains run in (Bench, Verify, Explain,
  * ScaleGen), and the one conf the test harness builds on, so the bench,
  * the oracle dump, the plan dump and the specs cannot drift apart:
  * `local[cpus]` with as many shuffle partitions, a UTC session
  * (timestamp casts match DuckDB's), raw-nanos parquet timestamps (see
  * `Tables.events`), no UI, WARN logs. */
object LocalSession {
  /** Worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The conf at `cpus` worker threads. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // MEASURED AND REJECTED (optimization r14, guide §3.1): preferring
      // shuffled-hash join (`spark.sql.join.preferSortMergeJoin=false` +
      // `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64m`).
      // jstack put the heavy pair/graph queries' time in SMJ TimSort +
      // per-key row buffering, but the paired A/B went the other way:
      // q_triangles 20.3 s (SMJ) vs 42.0 s (SHJ) adjacent-run, and the
      // 13-query join-heavy set regressed broadly (q_basket_pairs 1.8x,
      // q_ppjoin 1.4x, q_containment 1.35x). These joins are
      // duplicate-key-dense (wedges, shingle bands, basket pairs): SMJ
      // streams each sorted duplicate group once, while SHJ re-probes a
      // per-partition map whose buckets hold the same heavy groups —
      // sort cost < probe-chain cost on this shape. Kept default ON.

  def apply(): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
