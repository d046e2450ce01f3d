package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EnvelopeSink

/** The benchmark's own logic: generator, checker, percentiles, checksum. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  import HarnessSpec._

  /** A correct JSON envelope, written the way the reference serializes it. */
  private def envelopeJson(metrics: Option[String]): String =
    s"""{"SlaveID":"slave-3","Hostname":"host-3","Port":5051,""" +
      s""""Namespace":"prod","Timestamp":$tsNs""" +
      metrics.map(m => s""","Metrics":$m""").getOrElse("") + "}"

  private def rows(values: Seq[(String, Int)]) = {
    import spark.implicits._
    values.map { case (v, p) => ("slave-3".getBytes("UTF-8"), v.getBytes("UTF-8"), p) }
      .toDF("key", "value", "partition")
  }

  private val rightPart = Check.fnvPartition("slave-3".getBytes("UTF-8"), 8)
  private val body = Snapshots.body(seed, 3, 0)

  private def verdicts(df: org.apache.spark.sql.DataFrame, transform: String) =
    Check.verdicts(Check.decode(df, transform), expected, Some(8)).collect()

  test("generator is deterministic and Mesos-shaped") {
    assert(Snapshots.body(seed, 3, 9) == Snapshots.body(seed, 3, 9))
    assert(Snapshots.body(seed, 3, 9) != Snapshots.body(seed + 1, 3, 9))
    assert(Snapshots.body(seed, 3, 9) != Snapshots.body(seed, 4, 9))
    val values = Snapshots.body(seed, 3, 9).stripPrefix("{").stripSuffix("}")
      .split(",").map(_.split(":", 2)(1))
    assert(values.length == 120)
    assert(values.forall(v => v.contains('.') && !v.contains('E')))
    assert(values.exists(_.endsWith(".0")) && values.exists(!_.endsWith(".0")))
    val bytes = Snapshots.body(seed, 3, 9).length
    assert(bytes > 2500 && bytes < 4500, s"$bytes bytes")
  }

  test("checker accepts a correct JSON envelope") {
    val v = verdicts(rows(Seq((envelopeJson(Some(body)), rightPart))), "none")
    assert(v.map(_.correct).toSeq == Seq(true))
  }

  test("checker rejects a dropped payload, a wrong partition and a duplicate") {
    val dropped = verdicts(rows(Seq((envelopeJson(None), rightPart))), "none")
    assert(dropped.map(_.correct).toSeq == Seq(false))
    val wrong = verdicts(rows(Seq((envelopeJson(Some(body)), (rightPart + 1) % 8))), "none")
    assert(wrong.map(_.correct).toSeq == Seq(false))
    val twice = verdicts(rows(Seq.fill(2)((envelopeJson(Some(body)), rightPart))), "none")
    assert(twice.map(_.copies).toSeq == Seq(2L) && !twice.head.correct)
  }

  test("checker decodes Avro through EnvelopeSink.fromAvroValue") {
    import spark.implicits._
    val avro = Seq(("slave-3", "host-3", 5051, "prod", tsNs, body.getBytes("UTF-8")))
      .toDF("SlaveID", "Hostname", "Port", "Namespace", "Timestamp", "Metrics")
      .select(col("SlaveID").cast("binary").as("key"),
        org.apache.spark.sql.graft.Bridge.column(
          graft.expressions.ConfluentAvroEncode(
            org.apache.spark.sql.graft.Bridge.expression(struct(
              col("SlaveID"), col("Hostname"), col("Port"), col("Namespace"),
              col("Timestamp"), col("Metrics"))),
            EnvelopeSink.schemaJson, EnvelopeSink.schemaId)).as("value"),
        lit(rightPart).as("partition"))
    assert(verdicts(avro, "avro").map(_.correct).toSeq == Seq(true))
  }

  test("FNV-1a-32 placement matches the engine's partitioner") {
    import spark.implicits._
    val keys = (0 until 200).map(i => s"slave-$i")
    val engine = keys.toDF("k")
      .select(graft.functions.HashFunctions.fnvPartition(col("k").cast("binary"), 8))
      .as[Long].collect().toSeq
    assert(engine == keys.map(k => Check.fnvPartition(k.getBytes("UTF-8"), 8).toLong))
    // Go's fnv.New32a("a") = 0xe40c292c
    assert(Check.fnv1a32("a".getBytes("UTF-8")) == 0xe40c292c)
  }

  test("latency percentiles cover correct records only") {
    val v = Seq(
      TickVerdict("slave-1", 1000L * 1000000L, 1, allOk = true, batch = 0),
      TickVerdict("slave-2", 2000L * 1000000L, 1, allOk = false, batch = 0),
      TickVerdict("slave-3", 3000L * 1000000L, 2, allOk = true, batch = 1))
    val commit = Map(0L -> 1500L, 1L -> 9000L)
    assert(Ingest.latenciesMs(v, commit) == Seq(500.0))
    assert(Ingest.latenciesMs(v.filterNot(_.correct), commit).isEmpty)
    assert(Stats.quantileOpt(Nil, 0.5).isEmpty)
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0)
  }

  test("checksum does not depend on row order") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"r$i", i / 7.0, Map(s"k$i" -> i, "z" -> 1)))
      .toDF("a", "b", "c", "m")
    val shuffled = df.orderBy(rand(3)).repartition(5)
    assert(Batch.checksum(df) == Batch.checksum(shuffled))
    assert(Batch.checksum(df).rows == 500)
    assert(Batch.checksum(df) != Batch.checksum(df.limit(499)))
  }

  test("interval union and self time") {
    assert(Intervals.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    val parent = Span(1, 0, "q", 0, 100)
    val kids = Seq(Span(2, 1, "j", 10, 30), Span(3, 1, "j", 20, 40), Span(4, 1, "j", 90, 120))
    assert(Tracer.selfNs(parent, kids) == 100 - 30 - 10)
  }
}

object HarnessSpec {
  // Outside the class: Spark serializes `expected` into its tasks.
  val seed = 7L
  val tsNs: Long = 1700000042L * 1000000000L
  val expected: (String, Long) => Option[Map[String, Double]] = (slaveId, ts) =>
    if (slaveId == "slave-3" && ts == tsNs) Some(Snapshots.expected(seed, 3, 0))
    else None
}
