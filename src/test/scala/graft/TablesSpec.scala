package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Schema-drift guard for the driver-generated testdata.
  *
  * The driver has regenerated /root/testdata more than once with different
  * parquet timestamp encodings for `events.ts` (TIMESTAMP(NANOS) → raw-long
  * via legacy conf; TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ
  * under Spark 4's default inference). `Tables.events` must normalize every
  * generation to TimestampType so `unix_micros(ts)` call sites keep working.
  * This spec makes the next regeneration break ONE unit test instead of five
  * queries at correctness time.
  */
class TablesSpec extends SparkSpec {
  private val sfDirs =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(d => new java.io.File(d + "/events.parquet").exists)

  test("events.ts normalizes to TimestampType in every sf dir") {
    assert(sfDirs.nonEmpty, "no testdata dirs found")
    sfDirs.foreach { d =>
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType,
        s"$d: expected TimestampType, got ${ev.schema("ts").dataType}")
    }
  }

  test("events.ts epoch micros are sane and unix_micros analyzes") {
    val ev  = Tables.events(spark, sf)
    val row = ev.agg(min(unix_micros(col("ts"))).as("lo"),
                     max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    // Plausible epoch-micros range: 2000-01-01 .. 2100-01-01.
    assert(lo >= 946684800000000L && hi <= 4102444800000000L,
      s"epoch micros out of range: [$lo, $hi]")
    assert(lo <= hi)
  }

  test("all tables load with expected key columns") {
    val checks: Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
      ("region", Tables.region(spark, sf), "r_regionkey"),
      ("nation", Tables.nation(spark, sf), "n_nationkey"),
      ("customer", Tables.customer(spark, sf), "c_custkey"),
      ("supplier", Tables.supplier(spark, sf), "s_suppkey"),
      ("part", Tables.part(spark, sf), "p_partkey"),
      ("orders", Tables.orders(spark, sf), "o_orderkey"),
      ("lineitem", Tables.lineitem(spark, sf), "l_orderkey"),
      ("events", Tables.events(spark, sf), "event_id"),
      ("documents", Tables.documents(spark, sf), "doc_id"),
      ("embeddings", Tables.embeddings(spark, sf), "vec_id")
    )
    checks.foreach { case (name, df, key) =>
      assert(df.columns.contains(key), s"$name missing key column $key (has: ${df.columns.mkString(",")})")
      assert(df.limit(1).count() == 1, s"$name is empty")
    }
    // The schema a load reads with, inferred earlier or kept, is the one a
    // fresh inference returns.
    checks.map(_._1).foreach { name =>
      assert(Tables.load(spark, sf, name).schema ==
        spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
  }

  test("a second load of a table in one session runs no Spark job") {
    Tables.documents(spark, sf)
    val jobs = jobsDuring {
      assert(Tables.documents(spark, sf).columns.contains("doc_id"))
    }
    assert(jobs === 0, s"$jobs jobs")
  }

  test("a table rewritten at the same path with another schema is seen by the next load") {
    import spark.implicits._
    val dir = graft.operators.Scratch.dir("tables_rewrite")
    try {
      Seq(1L, 2L).toDF("a").write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
      assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a"))
      Seq(("x", 1), ("y", 2), ("z", 3)).toDF("b", "c")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val t = Tables.load(spark, dir, "t")
      assert(t.schema == spark.read.parquet(s"$dir/t.parquet").schema)
      assert(t.as[(String, Int)].collect().sorted.toSeq ===
        Seq(("x", 1), ("y", 2), ("z", 3)))
    } finally graft.operators.Scratch.delete(spark, dir)
  }

  test("the leaf-file walk lists what a recursive listFiles lists, hidden files included") {
    import java.nio.file.{Files, Paths}
    import org.apache.hadoop.fs.Path
    val dir = graft.operators.Scratch.dir("tables_leaves")
    try {
      val files = Seq("x", ".hidden", "_meta", ".x.crc", "sub/y", "sub/.h",
        "sub/deeper/_z", "sub/deeper/w.parquet")
      for ((f, i) <- files.zipWithIndex) {
        val p = Paths.get(dir, f)
        Files.createDirectories(p.getParent)
        Files.write(p, Array.fill(i)(1.toByte))
      }
      Files.createDirectories(Paths.get(dir, "empty", ".hiddendir"))
      def listFiles(path: String) = {
        val p = new Path(path)
        val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listFiles(p, true)
        val out = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          out += ((f.getPath.toString, f.getLen, f.getModificationTime))
        }
        out.result().sorted
      }
      for (path <- Seq(dir, s"$dir/sub", s"$dir/sub/y")) {
        val walked = Tables.leafFiles(spark, path)
        assert(walked === Some(listFiles(path)), path)
        assert(walked.get.nonEmpty, path)
      }
      assert(Tables.leafFiles(spark, dir).get.map(_._1)
        .exists(_.endsWith("sub/.h")))
      assert(Tables.leafFiles(spark, s"$dir/missing") === None)
    } finally graft.operators.Scratch.delete(spark, dir)
  }

  test("a load after toggling inferTimestampNTZ gets the schema a fresh read infers") {
    // events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false) with no Spark
    // schema in the footer, so the setting decides its type. A session of
    // its own: the setting is per session, the kept schemas are not.
    val s = spark.newSession()
    def fresh = s.read.parquet(s"$sf/events.parquet").schema
    Seq("true", "false", "true").foreach { on =>
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", on)
      val ts = Tables.load(s, sf, "events").schema("ts").dataType
      assert(ts == (if (on == "true") TimestampNTZType else TimestampType), on)
      assert(Tables.load(s, sf, "events").schema == fresh, on)
    }
  }
}
