package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.{ConfluentAvroDecode, ConfluentAvroEncode, SchemaRegistryStub}

/** The reference's output data path, rebuilt Spark-first: envelope
  * projection → serialization (JSON or Confluent-framed Avro) → keyed
  * `(key: binary, value: binary)` sink contract (SURVEY.md §2 B-1, roots
  * A4+A5+A6+A7+A9+A10).
  *
  * The whole path is a narrow projection — no shuffle anywhere, exactly as
  * embarrassingly parallel as one collector per slave
  * (/root/reference/syscol/metrics_reporter.go:85-97). At 100 TB this runs
  * as one WholeStageCodegen span per input partition (the Avro expression
  * is the single CodegenFallback leaf).
  */
object EnvelopeSink {

  /** Avro twin of the envelope, mirroring
    * /root/reference/avro/slave_metrics.avsc:1-30 (field order == Go struct
    * order, /root/reference/syscol/metrics_reporter.go:33-40). */
  val schemaJson: String =
    """{"type":"record","name":"SlaveMetrics","namespace":"graft.avro",
      |"fields":[
      |{"name":"SlaveID","type":"string"},
      |{"name":"Hostname","type":"string"},
      |{"name":"Port","type":"int"},
      |{"name":"Namespace","type":"string"},
      |{"name":"Timestamp","type":"long"},
      |{"name":"Metrics","type":"bytes"}]}""".stripMargin.replace("\n", "")

  def schemaId: Int = SchemaRegistryStub.register(
    SchemaRegistryStub.subjectFor(schemaJson), schemaJson)

  /** `props` as VARIANT; null where it is not a parseable JSON object. */
  private def decoded: Column =
    when(col("props").rlike("^[ \t\n\r]*\\{"), try_parse_json(col("props")))

  /** The snapshot body `props` decoded once, as VARIANT, which writes it
    * as Go re-marshals the decoded map (keys sorted, `4.0` as `4`). A null
    * body or one that is not a parseable JSON object becomes `{}`, as a
    * failed fetch or decode does in the reference. Divergences from Go
    * (`1e21` → `1.0E21`, repeated keys): SURVEY.md A3, A5. */
  private def metrics: Column = coalesce(decoded, parse_json(lit("{}")))

  /** Envelope projection over the events stream: constant + derived context
    * columns and the ns-precision timestamp, exactly `transformNone`'s
    * record build (/root/reference/syscol/metrics_reporter.go:133-141).
    * Field order is load-bearing: the JSON serialization is byte-compared. */
  def envelope(events: DataFrame, namespace: String = "prod"): DataFrame =
    events.select(
      col("event_id"),
      concat(lit("slave-"), col("user_id")).as("SlaveID"),
      concat(lit("host-"), (col("user_id") % 5)).as("Hostname"),
      lit(5051).as("Port"),
      lit(namespace).as("Namespace"),
      (unix_micros(col("ts")) * 1000).as("Timestamp"),
      col("props"))

  /** JSON transform: envelope → compact JSON string with Go-struct field
    * order, payload inlined as a JSON object
    * (/root/reference/syscol/metrics_reporter.go:143-148). */
  def toJsonValue: Column =
    to_json(struct(
      col("SlaveID"), col("Hostname"), col("Port"), col("Namespace"),
      col("Timestamp"),
      metrics.as("Metrics")))

  /** Avro transform: payload stays opaque JSON bytes inside the record
    * (/root/reference/syscol/metrics_reporter.go:151-165), then
    * Confluent-framed (magic 0x00 + BE schema id + body). */
  def toAvroValue: Column = {
    val payload = to_json(metrics).cast("binary")
    val env = struct(
      col("SlaveID"), col("Hostname"), col("Port"), col("Namespace"),
      col("Timestamp"), payload.as("Metrics"))
    org.apache.spark.sql.graft.Bridge.column(ConfluentAvroEncode(
      org.apache.spark.sql.graft.Bridge.expression(env),
      schemaJson, schemaId))
  }

  /** Topic-shaped persistent sink: kafka rows land in `nPartitions`
    * directories — the engine analog of the reference's producer
    * partitioner choosing the topic partition
    * (/root/reference/Godeps/_workspace/src/github.com/elodina/siesta-producer/partitioner.go:27-44).
    * `partitioner` selects the placement hash: "murmur3" (engine-native
    * pmod(hash(key), n)) or "fnv1a" (reference-exact abs(FNV-1a-32) mod n,
    * for consumers that expect the reference's physical placement).
    * Keyless rows (null key) spread uniformly at random — the reference's
    * nil-key posture (partitioner.go:46-58; time-seeded there, seeded here
    * so layouts are reproducible in tests). All rows for one key land in
    * one partition (ordering per key, like Kafka); `repartition` on the
    * partition id makes each output dir a single task's write at any scale. */
  def writeTopicLike(rows: DataFrame, path: String, nPartitions: Int,
      partitioner: String = "murmur3"): Unit = {
    val keyedPart = partitioner match {
      case "murmur3" => pmod(hash(col("key")), lit(nPartitions))
      case "fnv1a" =>
        graft.functions.HashFunctions.fnvPartition(col("key"), nPartitions)
      case other =>
        throw new IllegalArgumentException(s"unknown partitioner: $other")
    }
    rows
      .withColumn("partition",
        when(col("key").isNull,
          floor(rand(7) * nPartitions).cast("int"))
          .otherwise(keyedPart.cast("int")))
      .repartition(col("partition"))
      .write.mode("overwrite").partitionBy("partition").parquet(path)
  }

  /** Consumer-side inverse: strip the Confluent frame and decode the Avro
    * body back into the envelope struct (the reference's KafkaAvroDecoder). */
  def fromAvroValue(value: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(ConfluentAvroDecode(
      org.apache.spark.sql.graft.Bridge.expression(value),
      schemaJson, schemaId))

  /** Kafka-shaped sink rows: (key = SlaveID bytes, value = serialized
    * envelope bytes) — the producer-record contract
    * (/root/reference/Godeps/_workspace/src/github.com/elodina/siesta-producer/kafka_producer.go:12-21).
    * `keyed = false` emits null keys — the reference's own data path sends
    * records with NO key (/root/reference/syscol/metrics_reporter.go:96),
    * trading per-key ordering for uniform random placement. Observation
    * `envelope`'s `empty_metrics` counts the rows whose Metrics fell back
    * to `{}`, which the reference sends without a trace. */
  def kafkaRows(events: DataFrame, transform: String,
      keyed: Boolean = true): DataFrame = {
    val key =
      if (keyed) col("SlaveID").cast("binary")
      else lit(null).cast("binary")
    envelope(events)
      .observe("envelope", count_if(decoded.isNull).as("empty_metrics"))
      .select(col("event_id"), key.as("key"), value(transform).as("value"))
  }

  /** The serialized envelope bytes for `transform`: "none" is the JSON
    * transform ([[toJsonValue]]), "avro" the Confluent Avro one
    * ([[toAvroValue]]). Any other name fails fast at plan build, like the
    * reference's serializer dispatch (`syscol/executor.go:131-141`). */
  def value(transform: String): Column = transform match {
    case "none" => toJsonValue.cast("binary")
    case "avro" => toAvroValue
    case other =>
      throw new IllegalArgumentException(s"unknown transform: $other")
  }
}
