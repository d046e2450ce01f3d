package graft

import java.io.ByteArrayOutputStream
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.EnvelopeSink
import graft.expressions.SchemaRegistryStub

/** Envelope serialization fixtures (FIXTURES.md §2): golden JSON with the
  * Go-struct field order, and Confluent-framed Avro bytes checked against an
  * independent spec-level encoder written here from the Avro 1.x binary
  * encoding rules (zigzag varints, length-prefixed strings/bytes) — NOT the
  * library under test. */
class EnvelopeSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.from(java.time.Instant.parse("2015-07-16T11:54:10Z"))
  private def envelopeDf = Seq(
    (1L, 8L, ts, """{"k": 87}""")
  ).toDF("event_id", "user_id", "ts", "props")

  test("JSON envelope matches the Go-marshal golden string") {
    val row = EnvelopeSink.envelope(envelopeDf)
      .withColumn("v", EnvelopeSink.toJsonValue)
      .select("v").as[String].head()
    val expectedTs = 1437047650000000L * 1000 // epoch micros → nanos
    assert(row ===
      s"""{"SlaveID":"slave-8","Hostname":"host-3","Port":5051,"Namespace":"prod","Timestamp":$expectedTs,"Metrics":{"k":87}}""")
  }

  // Mesos-shaped snapshot bodies and the Metrics each must carry, as Go's
  // json.Marshal of the decoded map writes it: keys sorted, `4.0` as `4`,
  // and `{}` for a body that does not decode (a null body is a failed
  // fetch). `1e21` is pinned as VARIANT writes it, `1.0E21`; Go writes
  // `1e+21` (SURVEY.md A3, A5).
  private val mesosBodies = Seq(
    """{"slave/uptime_secs": 4.0, "system/load_1min": 1.5,""" +
      """ "slave/mem_total": 15360.0, "slave/tasks_running": 3,""" +
      """ "slave/cpus_used": 0.0,""" +
      """ "containerizer/mesos/container_destroy_errors": 0,""" +
      """ "slave/frameworks_active": 2, "slave/cpus_total": 8.0}""" ->
      ("""{"containerizer/mesos/container_destroy_errors":0,""" +
        """"slave/cpus_total":8,"slave/cpus_used":0,""" +
        """"slave/frameworks_active":2,"slave/mem_total":15360,""" +
        """"slave/tasks_running":3,"slave/uptime_secs":4,""" +
        """"system/load_1min":1.5}"""),
    """{"slave/disk_total": 1e21, "slave/disk_used": 1.5}""" ->
      """{"slave/disk_total":1.0E21,"slave/disk_used":1.5}""",
    """{"slave/mem_total": 15360.0, "slave/""" -> "{}", // malformed
    """[4.0, 1.5]""" -> "{}", // not an object
    (null: String) -> "{}")
  private def mesosDf = mesosBodies.zipWithIndex.map { case ((b, _), i) =>
    (i.toLong, 8L, ts, b) }.toDF("event_id", "user_id", "ts", "props")

  test("JSON envelope carries Mesos-shaped bodies as Go marshals them") {
    val got = EnvelopeSink.kafkaRows(mesosDf, "none")
      .orderBy("event_id").select(col("value").cast("string"))
      .as[String].collect().toSeq
    val expectedTs = 1437047650000000L * 1000
    assert(got === mesosBodies.map { case (_, m) =>
      s"""{"SlaveID":"slave-8","Hostname":"host-3","Port":5051,""" +
        s""""Namespace":"prod","Timestamp":$expectedTs,"Metrics":$m}""" })
  }

  test("Avro envelope round-trips Mesos-shaped bodies to the JSON Metrics bytes") {
    val got = EnvelopeSink.kafkaRows(mesosDf, "avro")
      .withColumn("env", EnvelopeSink.fromAvroValue(col("value")))
      .orderBy("event_id")
      .select(col("env.SlaveID"), expr("cast(env.Metrics as string)"))
      .as[(String, String)].collect().toSeq
    assert(got === mesosBodies.map { case (_, m) => ("slave-8", m) })
  }

  // -- independent minimal Avro binary encoder (spec-level, test-only) --
  private def zigzag(n: Long): Array[Byte] = {
    var v = (n << 1) ^ (n >> 63)
    val out = new ByteArrayOutputStream()
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
    out.toByteArray
  }
  private def avroString(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8"); zigzag(b.length) ++ b
  }
  private def avroBytes(b: Array[Byte]): Array[Byte] = zigzag(b.length) ++ b

  test("Confluent Avro frame matches a spec-level independent encoding") {
    val got = EnvelopeSink.kafkaRows(envelopeDf, "avro")
      .select("value").as[Array[Byte]].head()

    val id = EnvelopeSink.schemaId
    val expected =
      Array[Byte](0, (id >>> 24).toByte, (id >>> 16).toByte,
        (id >>> 8).toByte, id.toByte) ++
      avroString("slave-8") ++
      avroString("host-3") ++
      zigzag(5051L) ++                          // int Port
      avroString("prod") ++
      zigzag(1437047650000000L * 1000) ++        // long Timestamp (ns)
      avroBytes("""{"k":87}""".getBytes("UTF-8")) // canonicalized payload

    assert(got.toSeq === expected.toSeq)
  }

  test("Confluent Avro round-trip: decode(encode(envelope)) == envelope") {
    val decoded = EnvelopeSink.kafkaRows(envelopeDf, "avro")
      .withColumn("env", EnvelopeSink.fromAvroValue(col("value")))
      .select(
        col("env.SlaveID"), col("env.Hostname"), col("env.Port"),
        col("env.Namespace"), col("env.Timestamp"),
        expr("cast(env.Metrics as string)"))
      .as[(String, String, Int, String, Long, String)].head()
    assert(decoded === (("slave-8", "host-3", 5051, "prod",
      1437047650000000L * 1000, """{"k":87}""")))
  }

  test("Confluent Avro decode rejects bad magic and foreign schema ids") {
    val rows = Seq(
      Array[Byte](1, 0, 0, 0, 1, 42),         // wrong magic
      Array[Byte](0, 9, 9, 9, 9, 42),         // foreign schema id
      Array[Byte](0, 1)                       // truncated frame
    ).toDF("value")
    val nulls = rows.select(EnvelopeSink.fromAvroValue(col("value")).as("env"))
      .filter(col("env").isNull).count()
    assert(nulls === 3)
  }

  test("HTTP snapshot scan: fetch per target, empty payload on error") {
    import graft.sources.{HttpSnapshotScan, SnapshotTarget}
    val targets = Seq(
      SnapshotTarget("s0", "host0", 5051),
      SnapshotTarget("s1", "bad-host", 5051)).toDS()
    val out = HttpSnapshotScan.scan(targets, url =>
        if (url.contains("host0")) """{"slave/cpus_total": 4.0}"""
        else throw new RuntimeException("connection refused"))
      .select(col("slaveId"), col("metrics"))
      .as[(String, Map[String, Double])].collect().toMap
    assert(out("s0") === Map("slave/cpus_total" -> 4.0))
    assert(out("s1") === Map.empty[String, Double]) // error → empty, tick kept
  }

  test("HTTP snapshot scan end-to-end over a REAL loopback socket") {
    import graft.sources.{HttpSnapshotScan, SnapshotTarget}
    // A genuine HTTP server (JDK com.sun.net.httpserver) on an ephemeral
    // loopback port: executor tasks fetch through the DEFAULT httpGet
    // fetcher — real URL, real socket, real timeout posture — not an
    // injected fake. The second target points at the just-closed port to
    // exercise the connection-refused -> empty-payload path for real.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/metrics/snapshot",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = """{"slave/cpus_total": 8.0, "slave/mem_total": 1024.0}"""
          .getBytes("UTF-8")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
    server.start()
    val port = server.getAddress.getPort
    try {
      val targets = Seq(SnapshotTarget("s0", "127.0.0.1", port)).toDS()
      val out = HttpSnapshotScan.scan(targets)
        .select(col("slaveId"), col("metrics"))
        .as[(String, Map[String, Double])].collect().toMap
      assert(out("s0") ===
        Map("slave/cpus_total" -> 8.0, "slave/mem_total" -> 1024.0))
    } finally server.stop(0)
    // Port now closed: the same default fetcher must yield the empty
    // payload (tick kept), not a task failure.
    val dead = Seq(SnapshotTarget("s1", "127.0.0.1", port)).toDS()
    val deadOut = HttpSnapshotScan.scan(dead)
      .select(col("slaveId"), col("metrics"))
      .as[(String, Map[String, Double])].collect().toMap
    assert(deadOut("s1") === Map.empty[String, Double])
  }

  test("topic-like sink: every key's rows land in its hash partition") {
    import org.apache.spark.sql.functions.{col, hash, pmod, lit}
    val events = Tables.events(spark, sf)
    val rows = EnvelopeSink.kafkaRows(events, "none")
    val dir = java.nio.file.Files.createTempDirectory("topic_sink").toString
    EnvelopeSink.writeTopicLike(rows, dir, 8)
    val back = spark.read.parquet(dir)
    assert(back.count() === events.count())
    // layout invariant: the directory a row lives in IS its key's hash bucket
    val misplaced = back.filter(
      col("partition") =!= pmod(hash(col("key")), lit(8))).count()
    assert(misplaced === 0)
    // partitions are the hash range (an empty bucket is legitimate for the
    // small fixture key population)
    val parts = back.select("partition").distinct()
      .as[Int].collect().sorted
    assert(parts.forall(p => p >= 0 && p < 8) && parts.length >= 6, parts.toSeq)
  }

  test("fnv1a32 matches the public FNV-1a 32-bit test vectors") {
    import graft.functions.HashFunctions
    val got = Seq("", "a", "b", "foobar").toDF("s")
      .select(HashFunctions.fnv1a32(col("s").cast("binary")).as("h"))
      .as[Int].collect().toSeq
    // draft-eastlake-fnv test vectors, reinterpreted as signed int32
    assert(got === Seq(0x811c9dc5, 0xe40c292c, 0xe70c2de5, 0xbf9cf968))
  }

  test("fnv1a topic sink: placement matches an independent FNV-1a impl") {
    // independent reimplementation of the reference partitioner
    // (abs(int32(fnv1a(key))) % n) — NOT the expression under test
    def fnvRef(bytes: Array[Byte]): Int = {
      var h = 0x811c9dc5
      for (b <- bytes) h = (h ^ (b & 0xff)) * 16777619
      h
    }
    val events = Tables.events(spark, sf)
    val rows = EnvelopeSink.kafkaRows(events, "none")
    val dir = java.nio.file.Files.createTempDirectory("fnv_topic").toString
    EnvelopeSink.writeTopicLike(rows, dir, 8, partitioner = "fnv1a")
    val back = spark.read.parquet(dir).select("partition", "key")
      .as[(Int, Array[Byte])].collect()
    assert(back.length === events.count())
    assert(back.forall { case (p, k) =>
      val h = fnvRef(k)
      p === ((if (h < 0) -h.toLong else h.toLong) % 8).toInt
    })
  }

  test("keyless rows spread across partitions; keyed rows stay sticky") {
    val events = Tables.events(spark, sf)
    val dirU = java.nio.file.Files.createTempDirectory("topic_unkeyed").toString
    EnvelopeSink.writeTopicLike(
      EnvelopeSink.kafkaRows(events, "none", keyed = false), dirU, 8)
    val backU = spark.read.parquet(dirU)
    assert(backU.filter(col("key").isNotNull).count() === 0)
    // nil-key posture: rows spread over (nearly) all partitions
    assert(backU.select("partition").distinct().count() >= 6)
    val dirK = java.nio.file.Files.createTempDirectory("topic_keyed").toString
    EnvelopeSink.writeTopicLike(
      EnvelopeSink.kafkaRows(events, "none"), dirK, 8)
    val maxPartsPerKey = spark.read.parquet(dirK)
      .groupBy("key").agg(countDistinct(col("partition")).as("np"))
      .agg(max("np")).as[Long].head()
    assert(maxPartsPerKey === 1L)
  }

  test("end-to-end pipeline: events → avro topic dirs → decode → original") {
    // the full reference data path and its inverse, over real fixture data
    val events = Tables.events(spark, sf)
    val rows = EnvelopeSink.kafkaRows(events, "avro")
    val dir = java.nio.file.Files.createTempDirectory("e2e_topic").toString
    EnvelopeSink.writeTopicLike(rows, dir, 4)
    val decoded = spark.read.parquet(dir)
      .withColumn("env", EnvelopeSink.fromAvroValue(col("value")))
      .select(col("env.SlaveID").as("slave"), col("env.Timestamp").as("ts_ns"))
    assert(decoded.count() === events.count())
    assert(decoded.filter(col("slave").isNull).count() === 0)
    // every decoded envelope maps back to a source (user, ts) pair
    val src = events.select(
      concat(lit("slave-"), col("user_id")).as("slave"),
      (unix_micros(col("ts")) * 1000).as("ts_ns"))
    assert(decoded.exceptAll(src).count() === 0)
    assert(src.exceptAll(decoded).count() === 0)
  }

  test("schema registry stub: deterministic id, register-once semantics") {
    val a = SchemaRegistryStub.register("SlaveMetrics-value", EnvelopeSink.schemaJson)
    val b = SchemaRegistryStub.register("SlaveMetrics-value", EnvelopeSink.schemaJson)
    assert(a === b && a > 0)
    val other = SchemaRegistryStub.register("Other-value", EnvelopeSink.schemaJson)
    assert(other !== a)
  }

  test("registry subject is the record name + '-value'; id survives a fresh session") {
    // Subject naming mirrors the reference encoder's register-on-first-use
    // (schema.GetName() + "-value"): derived from the Avro RECORD NAME —
    // not the namespace-qualified full name, not the topic.
    val subject = SchemaRegistryStub.subjectFor(EnvelopeSink.schemaJson)
    assert(subject === "SlaveMetrics-value")
    assert(!subject.contains("graft.avro")) // namespace must not leak in
    // Id stability ACROSS sessions: the stub id is a pure digest of
    // (subject, schema), so a brand-new process derives the identical id —
    // recompute it from first principles here and pin the encoder to it.
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((subject + "|" + EnvelopeSink.schemaJson).getBytes("UTF-8"))
    val expected = ((d(0) & 0x7f) << 24) | ((d(1) & 0xff) << 16) |
      ((d(2) & 0xff) << 8) | (d(3) & 0xff)
    assert(EnvelopeSink.schemaId === expected)
    // and a schema CHANGE under the same subject moves the id (the
    // registry's version-bump behavior, not an id collision)
    val changed = EnvelopeSink.schemaJson.replace("SlaveID", "SlaveId2")
    assert(SchemaRegistryStub.register(subject, changed) !== expected)
  }

  test("invalid transform fails fast at plan build") {
    intercept[IllegalArgumentException] {
      EnvelopeSink.kafkaRows(envelopeDf, "proto")
    }
  }

  test("SQL function fnv1a32 is registered via extensions") {
    val h = spark.sql("SELECT fnv1a32(CAST('foobar' AS BINARY)) AS h")
      .as[Int].head()
    assert(h === 0xbf9cf968)
  }

  test("SQL function confluent_avro_encode is registered via extensions") {
    envelopeDf.createOrReplaceTempView("env_fixture")
    val n = spark.sql(
      """SELECT confluent_avro_encode(named_struct(
        |  'SlaveID', 'a', 'Hostname', 'b', 'Port', 1,
        |  'Namespace', 'c', 'Timestamp', CAST(2 AS BIGINT),
        |  'Metrics', CAST('{}' AS BINARY))) AS v""".stripMargin)
      .selectExpr("length(v)").as[Int].head()
    spark.catalog.dropTempView("env_fixture")
    assert(n > 5) // frame header alone is 5 bytes
  }
}
