package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Batch workloads: heavy sf0.1 queries run one at a time (closed loop),
  * each pass in a seed-shuffled order, each query's result reduced to a row
  * count plus an order-insensitive checksum over every output column. */
object Batch {

  /** The query group each batch workload runs. `iterative` queries are
    * loops over graph operators, bound by per-stage overhead and the work
    * between stages; `pairs` queries are data-bound shingle pair joins. */
  val groups: Map[String, Seq[String]] = Map(
    "batch_iterative" -> Seq("q_pagerank"),
    "batch_pairs" -> Seq("q_ngram_jaccard"))

  /** Nominal seconds of one warm pass of each group on 4 cores. A run makes
    * max(3, ceil(--seconds / nominal)) timed passes: a count fixed by the
    * arguments, so every run of a workload stops at the same point of the
    * JIT's warm-up, however fast the host is that day. */
  val nominalPassS: Map[String, Double] = Map(
    "batch_iterative" -> 4.0, "batch_pairs" -> 2.5)

  /** Tables the queries read; set-up touches each one. */
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  final case class Ref(rows: Long, checksum: String)

  /** Row count and the decimal sum of each row's xxhash64 over every output
    * column. Summing makes it independent of row order, so the timed action
    * needs no final sort: Catalyst drops a sort under an order-insensitive
    * aggregate. Map columns are hashed as their key-sorted entries. */
  def checksum(df: DataFrame): Ref = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    Ref(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Expected (rows, checksum) per query, recorded from outputs that the
    * DuckDB oracle check passed at sf0.1. */
  lazy val reference: Map[String, Ref] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/batch_sf01_ref.json"), "UTF-8")
    val text = try src.mkString finally src.close()
    """"(q_\w+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"checksum"\s*:\s*"(-?\d+)"\s*\}""".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> Ref(m.group(2).toLong, m.group(3))).toMap
  }

  /** Print the reference for every benchmarked query, computed from a
    * directory of per-query parquet outputs (one subdirectory per query, as
    * written by `graft.Verify`). */
  def record(outDir: String): Unit = {
    val spark = Main.session()
    val entries = groups.values.flatten.toSeq.sorted.map { q =>
      val r = checksum(spark.read.parquet(s"$outDir/$q"))
      s"""  "$q": {"rows": ${r.rows}, "checksum": "${r.checksum}"}"""
    }
    println(entries.mkString("{\n", ",\n", "\n}"))
    spark.stop()
  }

  private def cleanup(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** One query execution: seconds, and the failure if any. */
  final case class Exec(query: String, pass: Int, seconds: Double,
      error: Option[String], spanId: Long)

  def run(ctx: Ctx): Result = {
    val sfDir = ctx.sfDir
    require(new java.io.File(sfDir).isDirectory,
      s"data directory not found: '$sfDir'")
    val queries = groups(ctx.workload)
    // Set-up: session start, a first touch of every input table, the
    // reference load, then the warm-up passes below.
    val spark = Main.session()
    tables.map(t => s"$sfDir/$t.parquet")
      .filter(p => new java.io.File(p).exists)
      .foreach(p => spark.read.parquet(p).schema)
    require(queries.forall(reference.contains),
      "reference checksum missing for a benchmarked query")
    val sc = spark.sparkContext

    def exec(q: String, pass: Int, parent: Long,
        listener: Option[LayerListener]): Exec =
      ctx.tracer.span(s"query.$q", parent) { spanId =>
        val scope = s"$pass/$q"
        listener.foreach(_.currentScope = scope)
        sc.setLocalProperty(LayerListener.ScopeKey, scope)
        sc.setLocalProperty(LayerListener.SpanKey, spanId.toString)
        val t0 = System.nanoTime()
        val err =
          try {
            val got = checksum(graft.SparkEntry.queries(q)(spark, sfDir))
            val want = reference(q)
            if (got == want) None
            else Some(s"rows/checksum ${got.rows}/${got.checksum}, " +
              s"expected ${want.rows}/${want.checksum}")
          } catch {
            case e: Throwable =>
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          }
        val dt = (System.nanoTime() - t0) / 1e9
        cleanup(spark)
        Exec(q, pass, dt, err, spanId)
      }

    def pass(i: Int, listener: Option[LayerListener]): Seq[Exec] =
      ctx.tracer.span(s"pass.$i") { passId =>
        new Random(ctx.seed * 1000003L + i).shuffle(queries)
          .map(q => exec(q, i, passId, listener))
      }

    // Two untimed, checked warm-up passes (class loading, codegen, JIT):
    // in a fresh JVM the first pass takes about twice a steady one and the
    // second still about 1.4 times (measured on 4 vCPUs, also when the
    // first ran on smaller tables).
    val warm = pass(-1, None) ++ pass(0, None)
    warm.flatMap(e => e.error.map(m => s"${e.query}: $m"))
      .foreach(m => System.err.println(s"perfbench: warm-up failure $m"))
    val setupS = Main.jvmUptimeS

    // Timed passes. A traced run makes twice as many, alternating untraced
    // and traced ones (the listener is attached only for the traced ones)
    // so that the two can be compared.
    val nTimed = math.max(3, math.ceil(ctx.seconds / nominalPassS(ctx.workload)).toInt)
    val listeners = scala.collection.mutable.Map.empty[Int, LayerListener]
    val timed = scala.collection.mutable.ArrayBuffer.empty[Exec]
    for (i <- 1 to (if (ctx.trace) 2 * nTimed else nTimed)) {
      val listener =
        if (ctx.trace && i % 2 == 0) {
          val l = new LayerListener(ctx.tracer)
          sc.addSparkListener(l)
          listeners(i) = l
          Some(l)
        } else None
      timed ++= pass(i, listener)
      listener.foreach { l =>
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(l)
      }
    }
    timed.flatMap(e => e.error.map(m => s"pass ${e.pass} ${e.query}: $m"))
      .foreach(m => System.err.println(s"perfbench: failure $m"))

    (warm ++ timed).groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, es) =>
      System.err.println(f"perfbench: pass $p%d ${es.map(_.seconds).sum}%.3f s" +
        (if (listeners.contains(p)) " (traced)" else ""))
    }
    val untracedRuns = timed.toSeq.filterNot(e => listeners.contains(e.pass))
    val perQuery = queries.map { q =>
      q -> Stats.median(untracedRuns.filter(_.query == q).map(_.seconds))
    }
    val failed = (warm ++ timed).count(_.error.nonEmpty)
    val groupName = ctx.workload.stripPrefix("batch_")
    System.err.println(f"perfbench: ${untracedRuns.map(_.pass).distinct.size}%d " +
      f"untraced passes; ${groupName}_s = ${perQuery.map(_._2).sum}%.3f s")
    perQuery.foreach { case (q, s) =>
      System.err.println(f"perfbench:   query.${q}_s = $s%.3f")
    }
    val endToEnd = Seq(
      Metric("setup_s", Some(setupS), "s"),
      Metric("batch_s", Some(perQuery.map(_._2).sum), "s"))
    val perLayer =
      if (!ctx.trace) Nil
      else layerMetrics(ctx, timed.toSeq, listeners.toMap)
    spark.stop()
    Result(warm.size + timed.size, failed, failed == 0, endToEnd, perLayer)
  }

  /** Per-layer numbers from the traced passes: per pass totals, then the
    * median over traced passes. */
  private def layerMetrics(ctx: Ctx, timed: Seq[Exec],
      listeners: Map[Int, LayerListener]): Seq[Metric] = {
    val spans = ctx.tracer.spans
    val byParent = spans.groupBy(_.parent)
    val spanById = spans.map(s => s.id -> s).toMap
    val perPass = listeners.toSeq.sortBy(_._1).map { case (p, l) =>
      val execs = timed.filter(_.pass == p)
      val tot = execs.map(e => l.scopes.getOrElse(s"$p/${e.query}", new SparkTotals))
      // Query time with no task running, and query time outside any job.
      val outsideS = execs.zip(tot).map { case (e, t) =>
        val s = spanById(e.spanId)
        (s.durNs - Intervals.coveredNs(t.taskIntervals.toSeq.map { case (a, b) =>
          (math.max(a, s.startNs), math.min(b, s.endNs)) })) / 1e9
      }.sum
      val selfS = execs.map { e =>
        val s = spanById(e.spanId)
        Tracer.selfNs(s, byParent.getOrElse(s.id, Nil)) / 1e9
      }.sum
      val wallS = execs.map(_.seconds).sum
      (SparkTotals.figures(tot, wallS) ++ Seq(
        ("spark.outside_tasks_s", outsideS, "s"),
        ("query.self_s", selfS, "s")), wallS)
    }
    val untracedPassS = timed.filterNot(e => listeners.contains(e.pass))
      .groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
    val overheadPct =
      (Stats.median(perPass.map(_._2)) / Stats.median(untracedPassS) - 1) * 100
    val layers = perPass.head._1.indices.map { k =>
      val (name, _, unit) = perPass.head._1(k)
      Metric(name, Some(Stats.median(perPass.map(_._1(k)._2))), unit)
    }
    val perQuery = timed.filter(e => listeners.contains(e.pass))
      .groupBy(_.query).toSeq.sortBy(_._1).map { case (q, es) =>
        Metric(s"query.${q}_s", Some(Stats.median(es.map(_.seconds))), "s")
      }
    layers ++ perQuery ++ Seq(
      Metric("jvm.peak_heap_mb", Some(Main.peakHeapMb), "MB"),
      Metric("trace.overhead_pct", Some(overheadPct), "%"))
  }
}
