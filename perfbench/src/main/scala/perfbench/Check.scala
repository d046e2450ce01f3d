package perfbench

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One delivered sink record, decoded back to the envelope fields the
  * checker needs. `metrics` is null when the payload did not decode. */
final case class Decoded(key: Array[Byte], slaveId: String,
    timestampNs: java.lang.Long, metrics: Map[String, Double],
    partition: java.lang.Integer, batch: java.lang.Long)

/** Verdict for one tick identity (SlaveID, Timestamp): how many records
  * carried it and whether every one of them was right. */
final case class TickVerdict(slaveId: String, timestampNs: Long,
    copies: Long, allOk: Boolean, batch: Long) {
  def correct: Boolean = copies == 1 && allOk
}

/** Output checker for the ingest workloads. It decodes what the sink wrote
  * as a consumer would (JSON, or Confluent Avro through
  * `EnvelopeSink.fromAvroValue`), and accepts a record only if its key,
  * SlaveID, Timestamp and Metrics match the generated tick and, when the
  * sink partitions, it sits in partition abs(FNV-1a-32(key)) mod n. */
object Check {

  val metricsType: MapType = MapType(StringType, DoubleType)

  val jsonEnvelope: StructType = StructType(Seq(
    StructField("SlaveID", StringType), StructField("Hostname", StringType),
    StructField("Port", IntegerType), StructField("Namespace", StringType),
    StructField("Timestamp", LongType), StructField("Metrics", metricsType)))

  /** FNV-1a-32, written out here independently of the engine's own. */
  def fnv1a32(bytes: Array[Byte]): Int = {
    var h = 0x811c9dc5
    bytes.foreach { b => h ^= (b & 0xff); h *= 0x01000193 }
    h
  }

  def fnvPartition(key: Array[Byte], n: Int): Int =
    (math.abs(fnv1a32(key).toLong) % n).toInt

  /** Decode sink rows (`key`, `value`, optional `partition` and `batch`
    * columns) for `transform` "none" (JSON) or "avro". */
  def decode(rows: DataFrame, transform: String): Dataset[Decoded] = {
    import rows.sparkSession.implicits._
    def opt(c: String, t: DataType) =
      (if (rows.columns.contains(c)) col(c) else lit(null)).cast(t).as(c)
    val env = transform match {
      case "none" => from_json(col("value").cast("string"), jsonEnvelope)
      case "avro" => graft.operators.EnvelopeSink.fromAvroValue(col("value"))
      case other => throw new IllegalArgumentException(s"unknown transform $other")
    }
    val metrics = transform match {
      case "none" => col("env.Metrics")
      case _ => from_json(col("env.Metrics").cast("string"), metricsType)
    }
    rows.select(col("key"), env.as("env"), opt("partition", IntegerType),
        opt("batch", LongType))
      .select(col("key"), col("env.SlaveID").as("slaveId"),
        col("env.Timestamp").as("timestampNs"), metrics.as("metrics"),
        col("partition"), col("batch"))
      .as[Decoded]
  }

  /** Why one record is wrong, or None when it is right. `expected` maps a
    * (SlaveID, Timestamp ns) to the metrics generated for that tick, or
    * None for a tick that was never generated. */
  def problem(d: Decoded, expected: (String, Long) => Option[Map[String, Double]],
      nPartitions: Option[Int]): Option[String] =
    if (d.slaveId == null || d.timestampNs == null) Some("envelope did not decode")
    else if (d.key == null || !java.util.Arrays.equals(d.key,
        d.slaveId.getBytes("UTF-8"))) Some("key is not the SlaveID")
    else expected(d.slaveId, d.timestampNs) match {
      case None => Some("no such tick")
      case Some(_) if d.metrics == null => Some("metrics payload missing")
      case Some(m) if m != d.metrics => Some("metrics differ from the snapshot")
      case _ => nPartitions.flatMap { n =>
        val want = fnvPartition(d.key, n)
        if (d.partition == null || d.partition.intValue != want)
          Some(s"partition ${d.partition}, expected $want")
        else None
      }
    }

  /** Per-tick verdicts: each (SlaveID, Timestamp) must appear exactly once
    * and be right. A tick that never arrived has no row here; callers count
    * it as failed against the number attempted. */
  def verdicts(decoded: Dataset[Decoded],
      expected: (String, Long) => Option[Map[String, Double]],
      nPartitions: Option[Int]): Dataset[TickVerdict] = {
    import decoded.sparkSession.implicits._
    decoded.map { d =>
      (Option(d.slaveId).getOrElse(""),
        Option(d.timestampNs).map(_.longValue).getOrElse(Long.MinValue),
        problem(d, expected, nPartitions).isEmpty,
        Option(d.batch).map(_.longValue).getOrElse(-1L))
    }.toDF("slaveId", "timestampNs", "ok", "batch")
      .groupBy("slaveId", "timestampNs")
      .agg(count(lit(1)).as("copies"), min(col("ok")).as("allOk"),
        max(col("batch")).as("batch"))
      .as[TickVerdict]
  }

  /** Why each failing record failed, with counts, for the report. */
  def reasons(decoded: Dataset[Decoded],
      expected: (String, Long) => Option[Map[String, Double]],
      nPartitions: Option[Int]): Map[String, Long] = {
    import decoded.sparkSession.implicits._
    decoded.flatMap(d => problem(d, expected, nPartitions).toSeq)
      .groupByKey(identity).count().collect().toMap
  }
}
