package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval at a layer boundary. Times are epoch nanoseconds, so
  * spans recorded here and spans rebuilt from Spark's listener events
  * (epoch milliseconds) share one clock. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  /** Epoch nanoseconds with `nanoTime` resolution. */
  def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * out once; a disabled tracer records nothing and still runs the body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) synchronized { buf += s }

  /** Run `f` inside a span named `name`; `f` receives the span id so that
    * nested calls can name it as their parent. */
  def span[T](name: String, parent: Long = 0L)(f: Long => T): T =
    if (!enabled) f(0L)
    else {
      val id = nextId()
      val t0 = Clock.nowNs
      try f(id) finally record(Span(id, parent, name, t0, Clock.nowNs))
    }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path,
      scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }
}

object Tracer {
  /** Self time of `span`: its duration minus the part of it that its
    * children cover (overlapping children are counted once). */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - Intervals.coveredNs(
      children.map(c => (math.max(c.startNs, span.startNs),
        math.min(c.endNs, span.endNs))))
}

object Intervals {
  /** Length of the union of half-open intervals. */
  def coveredNs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters for one scope (a query run, a drain, a live run). */
final class SparkTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var rddBlockBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

object SparkTotals {
  /** The engine's per-layer figures, as (name, value, unit), for the scopes
    * `ts` that together took `wallS` seconds of wall time. */
  def figures(ts: Seq[SparkTotals], wallS: Double): Seq[(String, Double, String)] = {
    def total(f: SparkTotals => Long) = ts.map(f).sum.toDouble
    val taskS = total(_.runNs) / 1e9
    Seq(
      ("spark.jobs", total(_.jobs), "count"),
      ("spark.stages", total(_.stages), "count"),
      ("spark.tasks", total(_.tasks), "count"),
      ("spark.checkpoint_block_bytes", total(_.rddBlockBytes), "bytes"),
      ("spark.shuffle_read_bytes", total(_.shuffleRead), "bytes"),
      ("spark.shuffle_write_bytes", total(_.shuffleWrite), "bytes"),
      ("spark.spill_bytes", total(_.spill), "bytes"),
      ("spark.task_s", taskS, "s"),
      ("spark.cpu_s", total(_.cpuNs) / 1e9, "s"),
      ("spark.gc_s", total(_.gcMs) / 1e3, "s"),
      ("spark.parallel_eff", taskS / (wallS * Main.Cores), "ratio"))
  }
}

/** Listener registered by the benchmark on traced runs only. Every job
  * carries the scope and parent span the benchmark set as local properties
  * on the submitting thread; stages and tasks inherit the job's scope. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  import LayerListener._
  private val totals = mutable.Map.empty[String, SparkTotals]
  private val stageScope = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, String, Long)]
  @volatile var currentScope: String = ""

  private def of(scope: String): SparkTotals =
    totals.getOrElseUpdate(scope, new SparkTotals)

  def scopes: Map[String, SparkTotals] = synchronized(totals.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(ScopeKey)))
      .getOrElse(currentScope)
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobStart(e.jobId) = (e.time, scope, parent)
    e.stageIds.foreach(stageScope(_) = scope)
    of(scope).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, _, parent) =>
      tracer.record(Span(tracer.nextId(), parent, "spark.job", t0 * 1000000L,
        e.time * 1000000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      of(stageScope.getOrElse(e.stageInfo.stageId, currentScope)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageScope.getOrElse(e.stageId, currentScope))
    t.tasks += 1
    t.taskIntervals += ((e.taskInfo.launchTime * 1000000L,
      e.taskInfo.finishTime * 1000000L))
    Option(e.taskMetrics).foreach { m =>
      t.runNs += m.executorRunTime * 1000000L
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD)
        of(currentScope).rddBlockBytes += info.memSize + info.diskSize
    }
}

object LayerListener {
  val ScopeKey = "perfbench.scope"
  val SpanKey = "perfbench.span"
}

/** Collects every streaming progress event of a traced run. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  def progress: Seq[StreamingQueryProgress] = synchronized(buf.toList)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
