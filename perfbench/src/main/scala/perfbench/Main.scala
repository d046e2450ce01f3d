package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** A reported number. `value = None` means the quantity does not exist in
  * this run (for example a latency over zero correct records). */
final case class Metric(name: String, value: Option[Double], unit: String)

final case class Result(attempted: Long, failed: Long, correct: Boolean,
    endToEnd: Seq[Metric], perLayer: Seq[Metric])

/** Everything a workload needs: the parsed command line and where to put
  * its scratch files, spans and outputs. */
final case class Ctx(workload: String, seed: Long, seconds: Int,
    trace: Boolean, workDir: Path, sfDir: String) {
  val tracer = new Tracer(trace)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Option[Double]): String = v match {
    case Some(x) if !x.isNaN && !x.isInfinite => java.lang.Double.toString(x)
    case _ => "null"
  }

  def metrics(ms: Seq[Metric]): String = ms.map { m =>
    s"${str(m.name)}: {${str("value")}: ${num(m.value)}, ${str("unit")}: ${str(m.unit)}}"
  }.mkString("{", ", ", "}")
}

object Main {
  /** Cores of the one local JVM every workload runs in. */
  val Cores = 4

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds since this JVM started. */
  def jvmUptimeS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Peak heap over the run: the sum of every heap pool's peak. */
  def peakHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload <name> --seed <n> " +
      "--seconds <s> --trace <0|1> --work-dir <dir> --sf-dir <dir>\n" +
      "       perfbench.Main record <verify-output-dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("record")) {
      if (argv.length != 2) usage("record takes one directory")
      Batch.record(argv(1))
      sys.exit(0)
    }
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String): String = kv.getOrElse(k, usage(s"missing --$k"))
    val ctx = Ctx(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work-dir")).toAbsolutePath,
      kv.getOrElse("sf-dir", ""))
    if (ctx.seconds < 1) usage("--seconds must be >= 1")
    val result = ctx.workload match {
      case w if Batch.groups.contains(w) => Batch.run(ctx)
      case "ingest_drain" => Ingest.drain(ctx)
      case "ingest_live" => Ingest.live(ctx)
      case other => usage(s"unknown workload $other")
    }
    if (ctx.trace)
      ctx.tracer.write(ctx.workDir.resolve(s"trace-${ctx.workload}-${ctx.seed}.jsonl"))
    (result.endToEnd ++ result.perLayer).foreach { m =>
      println(f"${m.name}%-34s ${Json.num(m.value)}%s ${m.unit}")
    }
    println(s"""{"correct": ${result.correct}, "attempted": ${result.attempted}, """ +
      s""""failed": ${result.failed}, "end_to_end": ${Json.metrics(result.endToEnd)}, """ +
      s""""per_layer": ${Json.metrics(result.perLayer)}}""")
    System.out.flush()
    sys.exit(0)
  }
}
