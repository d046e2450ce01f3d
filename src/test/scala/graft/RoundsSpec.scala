package graft

import org.apache.spark.sql.functions._
import graft.operators.{Rounds, Walks}

/** The materialize step of the round loops: the checkpoint carries its
  * measured size, so the planner sees that a round's state is small. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  test("materialize gives 16 rows of a 2M-row frame their measured size, so the join back broadcasts") {
    val big = spark.range(0, 2000000, 1, 4).toDF("id")
    val small = big.filter(col("id") % 125000 === 0)
    val m = Rounds.materialize(small)
    assert(m.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(16)))
    val joined = m.join(big, "id")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
    assert(joined.as[Long].collect().sorted.toSeq ===
      (0L until 2000000L by 125000L))
    // why the step exists: a plain checkpoint keeps the estimate of the
    // 2M-row plan it came from, and the same join sort-merges
    val plain = small.localCheckpoint(eager = true)
    assert(plain.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    val pp = plain.join(big, "id").queryExecution.executedPlan.toString
    assert(pp.contains("SortMergeJoin"), pp)
  }

  test("materialize runs as many jobs as localCheckpoint(eager = true), with and without an exchange") {
    def narrow = spark.range(0, 1000, 1, 4).select((col("id") % 7).as("k"))
    def grouped = narrow.groupBy("k").agg(count(lit(1)).as("n"))
    for ((name, df) <- Seq("no exchange" -> (() => narrow),
        "exchange" -> (() => grouped))) {
      val eager = jobsDuring(df().localCheckpoint(eager = true))
      assert(eager > 0, name)
      assert(jobsDuring(Rounds.materialize(df())) === eager, name)
    }
  }

  test("deterministicWalks from every node does not broadcast its frontier under a 1 KB broadcast threshold") {
    // a 200-node ring with chords: the every-node frontier is 200 rows,
    // about 6 KB by its measured size
    val edges = (0L until 200L).flatMap(i =>
      Seq((i, (i + 1) % 200), (i, (i + 7) % 200))).toDF("a", "b")
    def walks = Walks.deterministicWalks(edges, "a", "b",
        edges.select(col("a").as("n")).distinct(), "n", steps = 3,
        seed = "t")
      .orderBy("walk_id", "step").as[(Long, Long, Long)].collect().toSeq
    val atDefault = walks
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "1KB")
    var atOneKb = Seq.empty[(Long, Long, Long)]
    val plans = try plansDuring { atOneKb = walks }
      finally spark.conf.set(key, saved)
    assert(atOneKb === atDefault)
    assert(atDefault.size === 200 * 4)
    val steps = plans.map(_.executedPlan.toString).filter(_.contains("md5("))
    assert(steps.size === 3)
    steps.foreach(p => assert(!p.contains("BroadcastHashJoin"), p))
  }
}
