package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.operators.EnvelopeSink
import graft.sources.{HttpSnapshotScan, SnapshotTarget}
import graft.streaming.Streams

/** Timed wrapper around the engine's HTTP fetch. Fetches run inside Spark
  * tasks, which share this JVM in local mode, so plain static counters
  * see every call. */
object TimedFetch {
  val fetches = new AtomicLong
  val failed = new AtomicLong
  val millis = new ConcurrentLinkedQueue[Double]()

  def reset(): Unit = { fetches.set(0); failed.set(0); millis.clear() }

  def apply(url: String): String = {
    val t0 = System.nanoTime()
    fetches.incrementAndGet()
    try HttpSnapshotScan.httpGet()(url)
    catch { case e: Exception => failed.incrementAndGet(); throw e }
    finally millis.add((System.nanoTime() - t0) / 1e6)
  }
}

/** Ingest workloads: the syscol loop (snapshot → envelope → JSON or
  * Confluent Avro → keyed sink) driven by Structured Streaming. */
object Ingest {
  /** Sink partitions for the topic-like drain output. */
  val NPartitions = 8
  /** Drain backlog: slaves × ticks records, written as this many files and
    * read this many files per micro-batch. */
  val DrainSlaves = 100
  val DrainTicks = 500
  val DrainFiles = 8
  val DrainFilesPerTrigger = 2
  /** Offered live rate: this many slaves, each due once a second. About
    * half the rate at which the backlog starts to grow: measured on 4 vCPUs
    * at this commit, the backlog left at the end of a 60 s run was smaller
    * than after 30 s up to 3200 slaves and larger from 6400 (README.md). */
  val LiveSlaves = 3200
  /** Live batches treated as warm-up when comparing traced and untraced
    * sink calls. */
  val WarmBatches = 3
  /** Epoch second of tick 0 in the drain backlog. */
  val Tick0S = 1700000000L

  private def slaveIndex(slaveId: String): Option[Int] =
    if (slaveId != null && slaveId.startsWith("slave-"))
      slaveId.drop(6).toIntOption
    else None

  private def rmrf(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))

  private def envelopeMetrics(calls: Int, busyS: Double, records: Long,
      failedRecords: Long, valueBytes: Long): Seq[Metric] = Seq(
    Metric("envelope.calls", Some(calls.toDouble), "count"),
    Metric("envelope.busy_s", Some(busyS), "s"),
    Metric("envelope.records", Some(records.toDouble), "count"),
    Metric("envelope.failed_records", Some(failedRecords.toDouble), "count"),
    Metric("envelope.value_bytes", Some(valueBytes.toDouble), "bytes"))

  private def sparkMetrics(t: SparkTotals, wallS: Double): Seq[Metric] =
    SparkTotals.figures(Seq(t), wallS).map { case (n, v, u) => Metric(n, Some(v), u) }

  /** `durationMs` split and rates from progress events, as per-batch
    * medians over batches that read input. */
  private def streamingMetrics(ps: Seq[StreamingQueryProgress]): Seq[Metric] = {
    val batches = ps.filter(_.numInputRows > 0)
    def med(k: String) = Stats.quantileOpt(
      batches.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue)), 0.5)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      if (ps.forall(_.stateOperators.isEmpty)) None
      else Some(ps.flatMap(_.stateOperators.map(f)).max.toDouble)
    Seq(
      Metric("streaming.batches", Some(batches.size.toDouble), "count"),
      Metric("streaming.batch_ms_p50", med("triggerExecution"), "ms"),
      Metric("streaming.latest_offset_ms", med("latestOffset"), "ms"),
      Metric("streaming.get_batch_ms", med("getBatch"), "ms"),
      Metric("streaming.query_planning_ms", med("queryPlanning"), "ms"),
      Metric("streaming.add_batch_ms", med("addBatch"), "ms"),
      Metric("streaming.wal_commit_ms", med("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", med("commitOffsets"), "ms"),
      Metric("streaming.input_rps", Stats.quantileOpt(
        batches.map(_.inputRowsPerSecond).filterNot(_.isNaN), 0.5), "records/s"),
      Metric("streaming.processed_rps", Stats.quantileOpt(
        batches.map(_.processedRowsPerSecond).filterNot(_.isNaN), 0.5), "records/s"),
      Metric("streaming.state_rows", state(_.numRowsTotal), "count"),
      Metric("streaming.state_bytes", state(_.memoryUsedBytes), "bytes"))
  }

  // ---------------------------------------------------------------- drain

  final case class Drain(transform: String, wallS: Double, attempted: Long,
      correct: Long, records: Long, valueBytes: Long, sinkCalls: Int,
      sinkBusyS: Double, error: Option[String], traced: Boolean,
      reasons: Map[String, Long])

  def drain(ctx: Ctx): Result = {
    val backlog = ctx.workDir.resolve("drain/backlog")
    val seed = ctx.seed
    val attempted = DrainSlaves.toLong * DrainTicks
    // Set-up: session, backlog generation (seeded, written as files), then
    // the warm-up drains below.
    val spark = Main.session()
    locally {
      import spark.implicits._
      spark.range(0, attempted, 1, DrainFiles).as[Long].map { i =>
        val slave = (i % DrainSlaves).toInt
        val tick = i / DrainSlaves
        (i, slave.toLong, new java.sql.Timestamp((Tick0S + tick) * 1000L),
          Snapshots.body(seed, slave, tick))
      }.toDF("event_id", "user_id", "ts", "props")
        .write.mode("overwrite").parquet(backlog.toString)
    }
    val schema = spark.read.parquet(backlog.toString).schema
    val expected = (slaveId: String, tsNs: Long) => {
      val tick = tsNs / 1000000000L - Tick0S
      slaveIndex(slaveId).filter(s => s >= 0 && s < DrainSlaves &&
          tick >= 0 && tick < DrainTicks && tsNs % 1000000000L == 0)
        .map(s => Snapshots.expected(seed, s, tick))
    }

    def runDrain(k: Int, transform: String, traced: Boolean): Drain = {
      val out = ctx.workDir.resolve(s"drain/out-$k")
      val ckpt = ctx.workDir.resolve(s"drain/ckpt-$k")
      val calls = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      val err = ctx.tracer.span(s"drain.$transform") { parent =>
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", DrainFilesPerTrigger)
          .parquet(backlog.toString)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            ctx.tracer.span("envelope.sink_call", parent) { spanId =>
              spark.sparkContext.setLocalProperty(LayerListener.SpanKey, spanId.toString)
              val c0 = System.nanoTime()
              try EnvelopeSink.writeTopicLike(
                EnvelopeSink.kafkaRows(batch, transform),
                s"$out/batch=$id", NPartitions, "fnv1a")
              finally calls += (System.nanoTime() - c0) / 1e9
            }
          }.start()
        try { q.awaitTermination(); None }
        catch { case e: Exception =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getCause).getOrElse(e)}"
            .take(300))
        }
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      val (correct, records, bytes, why) =
        if (!java.nio.file.Files.exists(out)) (0L, 0L, 0L, Map.empty[String, Long])
        else {
          val rows = spark.read.parquet(out.toString)
          val dec = Check.decode(rows, transform).cache()
          val v = Check.verdicts(dec, expected, Some(NPartitions))
          val r = (v.filter(_.correct).count(), dec.count(),
            rows.agg(coalesce(sum(length(col("value"))), lit(0L))).head().getLong(0),
            Check.reasons(dec, expected, Some(NPartitions)))
          dec.unpersist()
          r
        }
      rmrf(out); rmrf(ckpt)
      Drain(transform, wallS, attempted, correct, records, bytes, calls.size,
        calls.sum, err, traced, why)
    }

    // One untimed drain of each kind warms the JVM (the first drain of a
    // fresh JVM took about twice the second). Then JSON and Avro drains
    // alternate until the time is used, at least one of each; a traced run
    // alternates untraced and traced rounds, at least one of each.
    val warm = Seq(runDrain(-2, "none", traced = false), runDrain(-1, "avro", traced = false))
    val setupS = Main.jvmUptimeS
    val listener = new LayerListener(ctx.tracer)
    val drains = mutable.ArrayBuffer.empty[Drain]
    val tStart = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - tStart) / 1e9 < ctx.seconds ||
        drains.size < (if (ctx.trace) 4 else 2)) {
      val transform = if (k % 2 == 0) "none" else "avro"
      val traced = ctx.trace && (k / 2) % 2 == 1
      if (traced) { listener.currentScope = "drain"; spark.sparkContext.addSparkListener(listener) }
      drains += runDrain(k, transform, traced)
      if (traced) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      k += 1
    }
    drains.foreach { d =>
      System.err.println(f"perfbench: drain ${d.transform} ${d.wallS}%.2f s, " +
        f"${d.correct}/${d.attempted} correct${if (d.traced) " (traced)" else ""}" +
        d.error.map(e => s", query failed: $e").getOrElse("") +
        (if (d.reasons.isEmpty) "" else s", record faults: ${d.reasons}"))
    }
    val attemptedAll = (warm ++ drains).map(_.attempted).sum
    val failed = (warm ++ drains).map(d => d.attempted - d.correct).sum
    def rps(t: String) = Some(Stats.median(drains.toSeq
      .filter(d => d.transform == t && !d.traced).map(d => d.correct / d.wallS)))
    val endToEnd = Seq(
      Metric("setup_s", Some(setupS), "s"),
      Metric("failed_ratio", Some(failed.toDouble / attemptedAll), "ratio"),
      Metric("drain_json_rps", rps("none"), "records/s"),
      Metric("drain_avro_rps", rps("avro"), "records/s"))
    val perLayer = if (!ctx.trace) Nil else {
      val traced = drains.filter(_.traced).toSeq
      val untracedWall = Stats.median(drains.filterNot(_.traced).map(_.wallS).toSeq)
      val tracedWall = Stats.median(traced.map(_.wallS))
      val tot = listener.scopes.getOrElse("drain", new SparkTotals)
      envelopeMetrics(traced.map(_.sinkCalls).sum, traced.map(_.sinkBusyS).sum,
        traced.map(_.records).sum, traced.map(d => d.records - d.correct).sum,
        traced.map(_.valueBytes).sum) ++
        sparkMetrics(tot, traced.map(_.wallS).sum) ++ Seq(
        Metric("jvm.peak_heap_mb", Some(Main.peakHeapMb), "MB"),
        Metric("trace.overhead_pct", Some((tracedWall / untracedWall - 1) * 100), "%"))
    }
    rmrf(ctx.workDir.resolve("drain"))
    spark.stop()
    Result(attemptedAll, failed, failed == 0, endToEnd, perLayer)
  }

  // ----------------------------------------------------------------- live

  /** Loopback address of slave `i`: its snapshot endpoint is told apart
    * by the address the server was reached on. */
  def slaveAddress(i: Int): String = s"127.1.${i / 250}.${i % 250 + 1}"

  private def addressSlave(a: java.net.InetAddress): Int = {
    val b = a.getAddress
    (b(2) & 0xff) * 250 + (b(3) & 0xff) - 1
  }

  /** In-process snapshot server: every slave's body, pre-rendered from the
    * seed, served on a wildcard-bound port with two handler threads. */
  private def startServer(seed: Long): (HttpServer, java.util.concurrent.ExecutorService) = {
    val bodies = Array.tabulate(LiveSlaves)(i =>
      Snapshots.body(seed, i, 0).getBytes("UTF-8"))
    val server = HttpServer.create(new InetSocketAddress(0), 64)
    val pool = Executors.newFixedThreadPool(2)
    server.setExecutor(pool)
    server.createContext("/metrics/snapshot", (ex: HttpExchange) => {
      try {
        val i = addressSlave(ex.getLocalAddress.getAddress)
        if (i >= 0 && i < LiveSlaves) {
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, bodies(i).length)
          ex.getResponseBody.write(bodies(i))
        } else ex.sendResponseHeaders(404, -1)
      } finally ex.close()
    })
    server.start()
    (server, pool)
  }

  /** Latency of each correct record: the commit time of its batch (when
    * the sink call returned) minus its due time (the rate source's
    * timestamp, stamped whatever the processing speed). */
  def latenciesMs(verdicts: Seq[TickVerdict], commitMs: Map[Long, Long]): Seq[Double] =
    verdicts.filter(_.correct).flatMap(v =>
      commitMs.get(v.batch).map(c => (c - v.timestampNs / 1000000L).toDouble))

  def live(ctx: Ctx): Result = {
    val seed = ctx.seed
    // Set-up: session and the seeded snapshot server; it ends when the
    // stream starts.
    val spark = Main.session()
    val (server, pool) = startServer(seed)
    val port = server.getAddress.getPort
    val out = ctx.workDir.resolve("live/out")
    val ckpt = ctx.workDir.resolve("live/ckpt")
    rmrf(ctx.workDir.resolve("live"))
    TimedFetch.reset()
    val toTarget = (slaveId: String) => {
      val i = slaveIndex(slaveId).getOrElse(-1)
      SnapshotTarget(slaveId, slaveAddress(i), port)
    }
    val fetch = (url: String) => TimedFetch(url)
    val sink = Streams.pollEnvelopeSinkBatch(out.toString, toTarget, "none", fetch) _
    // Sink-call return time per batch: the commit time of its records.
    val commitMs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val callS = new ConcurrentLinkedQueue[(Long, Double)]()
    val progress = new ProgressListener
    val listener = new LayerListener(ctx.tracer)
    listener.currentScope = "live"
    @volatile var tracedFrom = Long.MaxValue
    val q = Streams.dedup(Streams.rateTicks(spark, LiveSlaves, LiveSlaves))
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ctx.tracer.span("envelope.sink_call") { spanId =>
          spark.sparkContext.setLocalProperty(LayerListener.SpanKey, spanId.toString)
          val t0 = System.nanoTime()
          sink(batch, id)
          commitMs.put(id, System.currentTimeMillis())
          callS.add((id, (System.nanoTime() - t0) / 1e9))
          ()
        }
      }.start()
    val setupS = Main.jvmUptimeS
    val tStart = System.nanoTime()
    // A traced run attaches the listeners for the second half only, so the
    // first half is the untraced comparison.
    if (ctx.trace) {
      Thread.sleep(ctx.seconds * 500L)
      tracedFrom = q.lastProgress match { case null => 0L; case p => p.batchId + 1 }
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(listener)
      Thread.sleep(ctx.seconds * 500L)
    } else Thread.sleep(ctx.seconds * 1000L)
    q.stop()
    val wallS = (System.nanoTime() - tStart) / 1e9
    server.stop(0); pool.shutdownNow()
    if (ctx.trace) {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.streams.removeListener(progress)
    }
    val error = q.exception.map(e => e.getMessage.take(300))
    val ps = q.recentProgress.toSeq
    val attempted = ps.map(_.numInputRows).sum
    val expected = (slaveId: String, _: Long) =>
      slaveIndex(slaveId).filter(i => i >= 0 && i < LiveSlaves)
        .map(i => Snapshots.expected(seed, i, 0))
    val (verdicts, records, bytes, why) =
      if (!java.nio.file.Files.exists(out)) (Seq.empty[TickVerdict], 0L, 0L, Map.empty[String, Long])
      else {
        // Only batches whose sink call returned count as delivered; the
        // batch in flight when the query stopped is not.
        val committed = commitMs.keySet.asScala.toSeq.map(Long.box)
        val rows = spark.read.parquet(out.toString)
          .filter(col("batch").isin(committed: _*))
        val dec = Check.decode(rows, "none").cache()
        val r = (Check.verdicts(dec, expected, None).collect().toSeq, dec.count(),
          rows.agg(coalesce(sum(length(col("value"))), lit(0L))).head().getLong(0),
          Check.reasons(dec, expected, None))
        dec.unpersist()
        r
      }
    val correct = verdicts.filter(_.correct)
    val latMs = latenciesMs(verdicts, commitMs.asScala.toMap.map {
      case (k, v) => (k: Long, v: Long) })
    val failed = math.max(attempted - correct.size, 0L)
    // Ticks due by the end that no batch had read yet.
    val backlog = (LiveSlaves * wallS).toLong - attempted
    System.err.println(s"perfbench: live ${ps.size} batches, ${correct.size}/$attempted correct, " +
      s"backlog at end $backlog" +
      error.map(e => s", query failed: $e").getOrElse("") +
      (if (why.isEmpty) "" else s", record faults: $why"))
    val endToEnd = Seq(
      Metric("setup_s", Some(setupS), "s"),
      Metric("failed_ratio", Some(if (attempted == 0) 1.0 else failed.toDouble / attempted), "ratio"),
      Metric("live_p50_ms", Stats.quantileOpt(latMs, 0.5), "ms"),
      Metric("live_p90_ms", Stats.quantileOpt(latMs, 0.9), "ms"))
    val perLayer = if (!ctx.trace) Nil else {
      val calls = callS.asScala.toSeq
      // The first batches of a fresh JVM run cold; leave them out of the
      // traced-versus-untraced comparison.
      val (tracedCalls, untracedCalls) =
        calls.filter(_._1 >= WarmBatches).partition(_._1 >= tracedFrom)
      val tracedPs = progress.progress
      val fetchMs = TimedFetch.millis.asScala.toSeq
      Seq(
        Metric("sources.fetches", Some(TimedFetch.fetches.get.toDouble), "count"),
        Metric("sources.fetch_failed", Some(TimedFetch.failed.get.toDouble), "count"),
        Metric("sources.fetch_ms_p50", Stats.quantileOpt(fetchMs, 0.5), "ms")) ++
        streamingMetrics(tracedPs) ++ Seq(
        Metric("streaming.backlog_rows_end", Some(backlog.toDouble), "count")) ++
        envelopeMetrics(calls.size, calls.map(_._2).sum, records,
          records - correct.size, bytes) ++
        sparkMetrics(listener.scopes.getOrElse("live", new SparkTotals),
          wallS / 2) ++ Seq(
        Metric("jvm.peak_heap_mb", Some(Main.peakHeapMb), "MB"),
        Metric("trace.overhead_pct", for {
          a <- Stats.quantileOpt(tracedCalls.map(_._2), 0.5)
          b <- Stats.quantileOpt(untracedCalls.map(_._2), 0.5)
        } yield (a / b - 1) * 100, "%"))
    }
    rmrf(ctx.workDir.resolve("live"))
    spark.stop()
    Result(math.max(attempted, 1L), failed, failed == 0 && attempted > 0, endToEnd, perLayer)
  }
}
