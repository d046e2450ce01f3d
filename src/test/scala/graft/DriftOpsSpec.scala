package graft

import org.apache.spark.sql.functions._
import graft.operators.{UrlOps, Vocab, Winnow}

/** Round-6 governance operators: winnowing fingerprints, Zipf fit,
  * Jensen–Shannon drift, URL canonicalization. */
class DriftOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- winnowing ----

  test("winnowing guarantee: a shared w+k-1 token run always yields a shared fingerprint") {
    // docs 1 and 2 share an 8-token run (> w+k-1 = 6); doc 3 is unrelated
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"one two $shared"),
      (2L, s"$shared nine ten"),
      (3L, "red orange yellow green blue indigo violet umber"))
      .toDF("doc_id", "text")
    val fps = Winnow.fingerprints(df, "text", "doc_id", k = 3, w = 4)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(2)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert((byDoc(2L) intersect byDoc(3L)).isEmpty)
  }

  test("winnowing density and edges: short docs, sub-window docs, no grams") {
    val df = Seq(
      (1L, "a b"),                  // < k tokens: no grams, no rows
      (2L, "a b c d"),              // 2 grams < w: single global min
      (3L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13"))
      .toDF("doc_id", "text")
    val fps = Winnow.fingerprints(df, "text", "doc_id", k = 3, w = 4)
      .collect().groupBy(_.getLong(0))
    assert(!fps.contains(1L))
    assert(fps(2L).length === 1)
    // 11 grams, 8 complete windows: between 1 and 8 selections, and every
    // selected position must be a real gram position
    val sel3 = fps(3L).map(_.getLong(1))
    assert(sel3.length >= 1 && sel3.length <= 8)
    assert(sel3.forall(p => p >= 0 && p <= 10))
  }

  test("sharedFingerprintPairs finds the planted overlap and honors the df guard") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 20L).map(i =>
      (i, s"filler${i}a filler${i}b filler${i}c filler${i}d filler${i}e")) ++
      Seq((21L, s"$shared pad21"), (22L, s"pad22 $shared"))
    val df = docs.toDF("doc_id", "text")
    val pairs = Winnow.sharedFingerprintPairs(df, "text", "doc_id",
      k = 3, w = 4, minShared = 2L, maxDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs === Array((21L, 22L)))
    // boilerplate: the same run in 12 docs (> maxDf) must produce NO pairs
    val boiler = (1L to 12L).map(i => (i, s"$shared tail$i")).toDF("doc_id", "text")
    assert(Winnow.sharedFingerprintPairs(boiler, "text", "doc_id",
      k = 3, w = 4, minShared = 2L, maxDf = 10L).count() === 0L)
  }

  // ---- zipf ----

  test("zipfSlope: uniform counts give slope 0, geometric decay gives ~ -1 in log2 base") {
    // geometric: counts 16,8,4,2 at ranks 1..4 → y = c - x·(ln2-basis slope);
    // slope of ln c vs ln r is not constant, so just check sign and a
    // closed-form two-point case: ranks 1,2 with counts 4,2 →
    // slope = (ln2-ln4)/(ln2-ln1) = -1
    val uniform = (1 to 4).flatMap(i => Seq.fill(5)((s"u", s"tok$i")))
      .toDF("source", "text")
    val u = Vocab.zipfSlope(uniform, "text", "source").collect().head
    assert(u.getAs[Long]("slope_micro") === 0L)
    val twoPoint = (Seq.fill(4)(("g", "aa")) ++ Seq.fill(2)(("g", "bb")))
      .toDF("source", "text")
    val g = Vocab.zipfSlope(twoPoint, "text", "source").collect().head
    assert(g.getAs[Long]("n_ranks") === 2L)
    assert(math.abs(g.getAs[Long]("slope_micro") + 1000000L) <= 2L)
  }

  // ---- jensen-shannon ----

  test("jsDivergence: identical slices are 0, disjoint slices are ln 2") {
    val df = (Seq.fill(10)(("a", "x y z")) ++ Seq.fill(10)(("b", "x y z")) ++
      Seq.fill(10)(("c", "p q r"))).toDF("source", "text")
    val out = Vocab.jsDivergence(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("a", "b")).getAs[Long]("jsd_micro") === 0L)
    // ln 2 = 0.693147... → 693147 micro-nats
    assert(out(("a", "c")).getAs[Long]("jsd_micro") === 693147L)
    assert(out(("a", "c")).getAs[Long]("n_common") === 0L)
    assert(out.size === 3)
  }

  test("jsDivergence is symmetric-by-construction and bounded") {
    val df = (Seq.fill(6)(("a", "x y")) ++ Seq.fill(3)(("b", "x z")))
      .toDF("source", "text")
    val r = Vocab.jsDivergence(df, "text", "source").collect().head
    val v = r.getAs[Long]("jsd_micro")
    assert(v > 0L && v <= 693148L)
  }

  // ---- url canonicalization ----

  test("urlCanonicalize normalizes case, port, params, fragment, trailing slash") {
    val urls = Seq(
      "HTTPS://WWW.News.Example.COM:443/page/7/?b=2&a=1&utm_source=feed#s",
      "https://www.news.example.com/page/7?a=1&ref=search&b=2").toDF("url")
    val got = urls.select(UrlOps.canonicalize(col("url"))).as[String].collect()
    assert(got.toSet ===
      Set("https://www.news.example.com/page/7?a=1&b=2"))
    // canonicalization is idempotent
    val again = urls.select(UrlOps.canonicalize(UrlOps.canonicalize(col("url"))))
      .as[String].collect()
    assert(again.toSet === got.toSet)
  }

  test("urlCanonicalize passes non-https through verbatim and ignores '?' in fragments") {
    val cases = Seq(
      "http://siteA.com/page1",          // non-https: verbatim, NOT merged
      "ftp://siteB.com/other",
      "not a url at all",
      "https://a.example.com/p#sec?x=1", // '?' inside fragment is NOT a query
      "https://a.example.com/p?x=1#sec") // real query before fragment
      .toDF("url")
    val got = cases.select(col("url"), UrlOps.canonicalize(col("url")).as("c"))
      .as[(String, String)].collect().toMap
    assert(got("http://siteA.com/page1") === "http://siteA.com/page1")
    assert(got("ftp://siteB.com/other") === "ftp://siteB.com/other")
    assert(got("not a url at all") === "not a url at all")
    assert(got("https://a.example.com/p#sec?x=1") === "https://a.example.com/p")
    assert(got("https://a.example.com/p?x=1#sec") ===
      "https://a.example.com/p?x=1")
  }

  // ---- snapshot diff ----

  test("snapshotDiff labels added, removed, changed and unchanged") {
    import graft.operators.Layout
    val oldV = Seq((1L, "same"), (2L, "before"), (3L, "gone"))
      .toDF("doc_id", "text")
    val newV = Seq((1L, "same"), (2L, "after"), (4L, "fresh"))
      .toDF("doc_id", "text")
    val got = Layout.snapshotDiff(oldV, newV, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  // ---- curriculum ----

  test("curriculumOrder buckets by score quantile with dense per-bucket positions") {
    import graft.operators.Packing
    // scores 1..20 → quartiles at 5.75/10.5/15.25; ties impossible here
    val df = (1L to 20L).map(i => (i, i)).toDF("doc_id", "score")
    val out = Packing.curriculumOrder(df, "score", "doc_id", nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val byBucket = out.groupBy(_._2)
    assert(byBucket.keySet === Set(0L, 1L, 2L, 3L))
    assert(byBucket(0L).map(_._1).toSet === (1L to 5L).toSet)
    assert(byBucket(3L).map(_._1).toSet === (16L to 20L).toSet)
    // positions are a dense 1..n permutation inside every bucket
    byBucket.values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq === (1L to rs.length).toSeq)
    }
    // deterministic across runs
    val again = Packing.curriculumOrder(df, "score", "doc_id", nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  // ---- pagerank ----

  test("pageRankWeighted: star graph concentrates rank in the hub, mass bounded") {
    import graft.operators.Clusters
    // 4 spokes all pointing at the hub; the hub redistributes to all 4
    // (symmetric star — fixpoint r_hub ≈ 2.38, r_spoke ≈ 0.655)
    val e = (Seq("s1", "s2", "s3", "s4").map(s => (s, "hub", 1L)) ++
      Seq("s1", "s2", "s3", "s4").map(s => ("hub", s, 1L)))
      .toDF("src", "dst", "w")
    val r = Clusters.pageRankWeighted(e, "src", "dst", "w", iterations = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r("hub") > 2L * r("s1"))
    assert(Seq("s2", "s3", "s4").forall(s => r(s) === r("s1")))
    // every rank at least the teleport floor, none above total start mass
    assert(r.values.forall(v => v >= 150000L && v <= 5000000L))
  }

  test("pageRankWeighted is deterministic across runs and honors weights") {
    import graft.operators.Clusters
    val e = Seq(("a", "b", 9L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val run1 = Clusters.pageRankWeighted(e, "src", "dst", "w")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val run2 = Clusters.pageRankWeighted(e, "src", "dst", "w")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(run1 === run2)
    assert(run1("b") > run1("c")) // 9:1 out-weight split favors b
  }

  test("pageRankWeighted on a small graph runs the same jobs for 2 and 10 rounds") {
    import graft.operators.Clusters
    // 5 nodes, all 25 ordered pairs: the q_pagerank transition-graph shape
    val ids = Seq("a", "b", "c", "d", "e")
    val e = (for (x <- ids; y <- ids) yield (x, y, 1L + x.head - y.head + 5))
      .toDF("src", "dst", "w")
    def jobs(iterations: Int): Int = jobsDuring {
      assert(Clusters.pageRankWeighted(e, "src", "dst", "w",
        iterations = iterations).collect().length === 5)
    }
    val (two, ten) = (jobs(2), jobs(10))
    assert(two === ten, s"jobs grew with rounds: $two at 2, $ten at 10")
  }

  test("q_pagerank on the spec tables runs 3 jobs and writes no shuffle") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import graft.queries.DriftOps
    // warm-up: the first read of a table in a session infers its schema
    val expected = DriftOps.qPagerank(spark, sf).collect().toSeq
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    var (jobs, rows) = (0, Seq.empty[org.apache.spark.sql.Row])
    listening(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach(m =>
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }) {
      jobs = jobsDuring { rows = DriftOps.qPagerank(spark, sf).collect().toSeq }
    }
    assert(rows.nonEmpty && rows === expected)
    // the transitions kernel's job, the PageRank kernel's job (each read
    // is its own size check, each output materialized in that job), and
    // the collect
    assert(jobs === 3)
    assert(shuffleBytes.get === 0L)
  }

  test("transitions over MaxRows + 1 events takes the window plan and returns its rows") {
    import graft.operators.{OneTask, Temporal}
    val events = spark.range(0, OneTask.MaxRows + 1L, 1, 4).select(
      (col("id") % 1000).as("user_id"), expr("timestamp_micros(id)").as("ts"),
      col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(5)).cast("string").as("event_type"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    val got = Temporal.transitions(events, "user_id", "ts", "event_id",
      "event_type")
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(rows(got) === rows(Temporal.transitionsWindow(events, "user_id",
      "ts", "event_id", "event_type", 1)))
  }

  // ---- incremental aggregate maintenance ----

  test("mergePartialAggs equals the from-scratch aggregate, disjoint keys included") {
    import graft.operators.Layout
    val base = Seq(("x", 1.0), ("x", 3.0), ("y", 5.0)).toDF("k", "v")
    val delta = Seq(("x", 2.0), ("z", 7.0)).toDF("k", "v") // z: new key
    val merged = Layout.mergePartialAggs(
      Layout.partialAgg(base, Seq("k"), "v"),
      Layout.partialAgg(delta, Seq("k"), "v"), Seq("k"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val direct = base.union(delta).groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum("v").as("total"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(merged === direct)
    assert(merged("z") === ((1L, 7.0)))
  }

  // ---- token-id encoding ----

  test("encodeIds ranks the vocabulary by count and zeroes OOV, order preserved") {
    import graft.operators.Vocab
    // counts: b=4, a=3, c=1 → vocab(2): b=1, a=2; c is OOV
    val df = Seq((1L, "a b b a"), (2L, "b b a c")).toDF("doc_id", "text")
    val out = Vocab.encodeIds(df, "text", "doc_id", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("ids_json") === "[2,1,1,2]")
    assert(out(1L).getAs[Long]("n_oov") === 0L)
    assert(out(2L).getAs[String]("ids_json") === "[1,1,2,0]")
    assert(out(2L).getAs[Long]("n_oov") === 1L)
  }

  // ---- content-defined chunking ----

  test("cdcChunks cut points are content-local: a prefix edit never re-chunks the tail") {
    import graft.operators.Packing
    val tail = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq((1L, s"intro $tail"), (2L, s"different start words $tail"))
      .toDF("doc_id", "text")
    val chunks = Packing.cdcChunks(df, "text", "doc_id")
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getAs[String]("chunk_digest")).toSet }
    // every chunk strictly after each doc's first boundary is identical —
    // the two fingerprint sets overlap except for the differing heads
    val shared = chunks(1L) intersect chunks(2L)
    assert(shared.nonEmpty,
      s"no shared chunks despite identical tails: ${chunks(1L)} vs ${chunks(2L)}")
    // determinism: same text, same chunking
    val again = Packing.cdcChunks(df, "text", "doc_id")
      .collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getAs[String]("chunk_digest")).toSet }
    assert(again === chunks)
  }

  test("dedupByUrl keeps the lowest id per canonical url") {
    val df = Seq(
      (5L, "https://a.example.com/x?p=1"),
      (3L, "HTTPS://A.EXAMPLE.COM:443/x?p=1"),
      (9L, "https://a.example.com/y")).toDF("doc_id", "url")
    val out = UrlOps.dedupByUrl(df, "url", "doc_id")
      .select("doc_id", "is_canonical").as[(Long, Boolean)].collect().toMap
    assert(out === Map(3L -> true, 5L -> false, 9L -> true))
  }

  test("dpCounts: same release reproduces byte-identically, a new tag redraws, scale tracks 1/eps") {
    import graft.operators.Profile
    val df = (1L to 300L).map(i => (s"g${i % 30}", "x")).toDF("g", "s")
    def run(tag: String, eps: Double) =
      Profile.dpCounts(df, Seq("g"), eps, tag, secretSeed = "spec-seed")
        .select("g", "n", "noise_milli", "released_milli")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val a1 = run("rel-A", 1.0)
    assert(a1 === run("rel-A", 1.0)) // derandomized: a release is a value
    val a2 = run("rel-B", 1.0)
    assert(a1.keySet === a2.keySet)
    // a fresh tag redraws: not all 30 groups keep identical noise
    assert(a1.count { case (g, v) => a2(g)._2 == v._2 } < 30)
    // released = n*1000 + noise, and counts are untouched
    a1.foreach { case (_, (n, nz, rel)) =>
      assert(n === 10L); assert(rel === n * 1000 + nz)
    }
    // Laplace(1/eps): halving eps doubles every noise value EXACTLY up
    // to the milli rounding (same u — the draw depends only on the tag)
    val half = run("rel-A", 0.5)
    a1.foreach { case (g, (_, nz, _)) =>
      assert(math.abs(half(g)._2 - 2 * nz) <= 1L,
        s"$g: eps=0.5 noise ${half(g)._2} vs 2x eps=1 noise ${2 * nz}")
    }
    // the PRF key is load-bearing: a different secret seed redraws, and
    // an empty seed (no key = no privacy) is refused outright
    val otherSeed = graft.operators.Profile
      .dpCounts(df, Seq("g"), 1.0, "rel-A", secretSeed = "other-seed")
      .select("g", "noise_milli").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a1.count { case (g, v) => otherSeed(g) == v._2 } < 30)
    intercept[IllegalArgumentException] {
      graft.operators.Profile.dpCounts(df, Seq("g"), 1.0, "rel-A",
        secretSeed = "")
    }
  }

  test("heapsLaw: all-unique corpus fits beta ~ 1, templated corpus beta ~ 0") {
    import graft.operators.Vocab
    // 40 docs x 5 tokens; 'uniq' tokens are globally fresh (types = tokens
    // exactly => ln types = ln tokens at every checkpoint => beta = 1);
    // 'tmpl' docs repeat the same 5 words (types saturate at 5 => beta = 0)
    val docs = (0L until 40L).flatMap { i => Seq(
      (i, (0 until 5).map(j => s"w${i}_$j").mkString(" "), "uniq"),
      (i, "a b c d e", "tmpl"))
    }.toDF("doc_id", "text", "source")
    val out = Vocab.heapsLaw(docs, "text", "doc_id", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(out("uniq")._1 === 10L)
    assert(math.abs(out("uniq")._2 - 1000000L) <= 1L,
      s"unique corpus beta_micro ${out("uniq")._2} != ~1e6")
    assert(math.abs(out("tmpl")._2) <= 1000L,
      s"templated corpus beta_micro ${out("tmpl")._2} != ~0")
  }

  test("holtDyadic: converges to level+trend on a linear ramp and forecasts its continuation") {
    import graft.operators.Temporal
    // v_t = 100 + 10t: after enough dyadic rounds level ~ v_last and
    // trend ~ 10 (each in milli), so the h-step forecast continues the line
    val series = (0L until 40L).map(t => ("g", t, 100L + 10L * t))
      .toDF("grp", "t", "v")
    val r = Temporal.holtDyadic(series, "grp", "t", "v", horizon = 7)
      .collect()(0)
    val (level, trend, fc) = (r.getLong(1), r.getLong(2), r.getLong(3))
    val vLast = 100L + 10L * 39L
    assert(math.abs(level - vLast * 1000L) <= 2000L,
      s"level_milli $level vs ${vLast * 1000}")
    assert(math.abs(trend - 10000L) <= 1000L, s"trend_milli $trend vs 10000")
    assert(fc === level + 7L * trend)
    // order independence: shuffled input folds identically (array_sort)
    val shuffled = scala.util.Random.shuffle(
        (0L until 40L).map(t => ("g", t, 100L + 10L * t)).toList)
      .toDF("grp", "t", "v")
    val r2 = Temporal.holtDyadic(shuffled, "grp", "t", "v", horizon = 7)
      .collect()(0)
    assert((r2.getLong(1), r2.getLong(2)) === ((level, trend)))
  }

  test("qq deciles are the exact type-1 order statistics of each segment") {
    import spark.implicits._
    val out = graft.queries.DriftOps.qQqDrift(spark, sf).collect()
    assert(out.length === 9)
    val vals = spark.read.parquet(s"$sf/orders.parquet")
      .join(spark.read.parquet(s"$sf/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    def typ1(xs: Vector[Long], k: Int): Long =
      xs((k * xs.size + 9) / 10 - 1) // ceil(k*n/10), 1-based → 0-based
    out.foreach { r =>
      val k = r.getAs[Long]("decile").toInt
      val b = typ1(vals("BUILDING"), k)
      val m = typ1(vals("MACHINERY"), k)
      assert(r.getAs[Long]("building_c") === b, s"decile $k building")
      assert(r.getAs[Long]("machinery_c") === m, s"decile $k machinery")
      assert(r.getAs[Long]("diff_c") === b - m)
      assert(r.getAs[Long]("ratio_ppm") === b * 1000000L / m)
    }
  }

  test("changepoint argmax matches a BigInt brute force over every split") {
    import spark.implicits._
    val out = graft.queries.DriftOps.qChangepoint(spark, sf).collect()
    // the weekly series via the SAME truncation the operator uses (the
    // test targets the scoring + argmax, not Spark's date_trunc)
    val wk = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag").as("flag"),
        date_trunc("week", col("l_shipdate")).cast("date").as("week"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
      .as[(String, java.sql.Date, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1.getTime).toVector)
      .toMap
    assert(out.length === wk.size)
    out.foreach { r =>
      val flag = r.getAs[String]("flag")
      val ser = wk(flag)
      val n = BigInt(ser.size)
      val s = ser.map(p => BigInt(p._2)).sum
      var s1 = BigInt(0)
      val scored = ser.dropRight(1).zipWithIndex.map { case ((w, c), i) =>
        s1 += c
        val n1 = BigInt(i + 1)
        val num = n * s1 - n1 * s
        val score = (num * num) / (n * n1 * (n - n1) * BigInt(10).pow(12))
        (w, score, s1 / n1, (s - s1) / (n - n1))
      }
      val best = scored.maxBy(t => (t._2, -t._1.getTime))
      assert(r.getAs[java.sql.Date]("cp_week") === best._1, s"week of $flag")
      assert(r.getAs[Long]("score") === best._2.toLong)
      assert(r.getAs[Long]("n_weeks") === n.toLong)
      assert(r.getAs[Long]("mean1_cents") === best._3.toLong)
      assert(r.getAs[Long]("mean2_cents") === best._4.toLong)
      // every other split scores no higher (argmax is global, not local)
      assert(scored.forall(_._2 <= best._2))
    }
  }
}
