package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Plan-level proof of the 100 TB layout mechanics: bucketed joins do not
  * shuffle, salted operators return identical results while spreading hot
  * keys. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = java.nio.file.Paths.get("spark-warehouse", name)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("bucketed tables join with zero exchange") {
    val orders = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    dropTable("b_orders"); dropTable("b_lineitem")
    Layout.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    Layout.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
      "o_orderkey", 8)
    // The fixture tables are small enough to broadcast, which would bypass
    // the bucketed path entirely — disable it so the plan shows what a
    // fact⋈fact join does at scale: a bucket-local sort-merge, no Exchange.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() ===
        orders.join(lineitem, orders("o_orderkey") === lineitem("l_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    dropTable("b_orders"); dropTable("b_lineitem")
  }

  test("salted join equals unsalted join on a skewed fact") {
    // skew: 90% of fact rows share one key
    val fact = spark.range(0, 10000)
      .select(
        when(col("id") % 10 < 9, lit(1L)).otherwise(col("id") % 100).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 100).select(col("id").as("k"),
      concat(lit("d"), col("id")).as("dval"))
    val salted = Layout.saltedJoin(fact, dim, "k", col("payload"), 8)
    val plain = fact.join(dim, "k")
    assert(salted.count() === plain.count())
    assert(salted.agg(sum("payload")).as[Long].head() ===
      plain.agg(sum("payload")).as[Long].head())
  }

  test("salted aggregation equals plain aggregation") {
    val df = spark.range(0, 10000)
      .select((col("id") % 7).as("k"), (col("id") % 100).cast("double").as("v"))
    val salted = Layout.saltedAgg(df, "k", "v", col("v"), 8)
      .orderBy("k").as[(Long, Double, Long)].collect()
    val plain = df.groupBy("k")
      .agg(sum("v").as("sum_value"), count(lit(1)).as("n"))
      .orderBy("k").as[(Long, Double, Long)].collect()
    assert(salted.toSeq === plain.toSeq)
  }

  test("compaction collapses small files without changing the data") {
    val dir = graft.operators.Scratch.dir("compact")
    val df = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    df.repartition(32).write.mode("overwrite").parquet(dir)
    // Hadoop FS, not java.io.File: Scratch.dir may mint a shared-root
    // (hdfs/s3a) path when SPARK_GRAFT_SCRATCH is set
    def files() = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(hp).count(_.getPath.getName.endsWith(".parquet"))
    }
    // decimal sum: order-independent, so it survives the repartition
    def dsum() = spark.read.parquet(dir)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")))
      .head().getDecimal(0)
    val before = files()
    val sumBefore = dsum()
    Layout.compact(spark, dir, 2)
    assert(files() === 2 && before > 2, s"before=$before after=${files()}")
    assert(dsum() === sumBefore)
    assert(spark.read.parquet(dir).count() === df.count())
  }

  test("upsert: updates win, unmatched base survives, new keys append") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq((2L, "B2"), (4L, "d")).toDF("k", "v")
    val merged = Layout.upsert(base, updates, "k")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(merged === Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // idempotent: re-applying the same updates changes nothing
    val again = Layout.upsert(Layout.upsert(base, updates, "k"), updates, "k")
      .orderBy("k").as[(Long, String)].collect().toSeq
    assert(again === merged)
  }

  test("LM layout: stored counts score bit-identically to a fresh fit") {
    import graft.operators.LmScore
    val train = Seq((0L, "a b a c"), (1L, "b a c d")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c"), (11L, "a d x"), (12L, "c d"))
      .toDF("doc_id", "text")
    val dir = graft.operators.Scratch.dir("lm_layout")
    try {
      LmScore.writeLmLayout(train, "text", dir)
      val fresh = LmScore.knBigramCrossEntropy(docs, train, "text", "doc_id")
        .orderBy("doc_id").collect().toSeq
      // score twice from the store: read-only serving, no train re-agg
      val stored = LmScore.scoreFromLmLayout(docs, "text", "doc_id", dir)
        .orderBy("doc_id").collect().toSeq
      val stored2 = LmScore.scoreFromLmLayout(docs, "text", "doc_id", dir)
        .orderBy("doc_id").collect().toSeq
      assert(stored === fresh)
      assert(stored2 === fresh)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("hilbert curve: bijective on the grid and every step is a grid neighbour") {
    // bits=5 → 32×32 grid; the curve must visit all 1024 cells exactly
    // once (bijection) AND consecutive indices must be 4-neighbours —
    // THE locality property Morton lacks (z jumps at power-of-two seams).
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val d = grid.select(col("x"), col("y"),
        Layout.hilbertValue(col("x"), col("y"), 5).as("d"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1)))
    assert(d.map(_._1).toSet === (0L until 1024L).toSet) // bijection
    val byD = d.toMap
    val jumps = (0L until 1023L).count { i =>
      val (x1, y1) = byD(i); val (x2, y2) = byD(i + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(jumps === 0)
    // Morton on the same grid DOES jump — the property is not vacuous
    val z = grid.select(Layout.zorderValue(col("x"), col("y"), 5).as("z"),
        col("x"), col("y"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val zJumps = (0L until 1023L).count { i =>
      val (x1, y1) = z(i); val (x2, y2) = z(i + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(zJumps > 0)
  }
}
