package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared session harness: one local session per suite, the mains'
  * `LocalSession` conf at a fixed 4 threads, plus the Graft extensions. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = LocalSession.builder(4)
    .appName(getClass.getSimpleName)
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before and after, so no earlier job is counted and none of `body`'s is
    * missed. */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    })(body)
    n.get
  }

  /** Runs `body` with `l` registered, draining the listener bus before and
    * after, so `l` sees every event of `body` and none from before it. */
  def listening(l: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
  }

  override def afterAll(): Unit = {
    // Shared across suites in one JVM (getOrCreate) — do not stop.
    super.afterAll()
  }
}
