package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PairCounts}
import graft.functions.TextFunctions

/** Dedup operator properties (SURVEY.md §5.2 item 3). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"),   // near dup of 0
    (3L, "completely different content about spark engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog")    // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per content group") {
    val kept = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 2L, 3L))
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exact(docs, "text", "doc_id")
    val twice = Dedup.exact(once.select("doc_id", "text"), "text", "doc_id")
    assert(once.select("doc_id").as[Long].collect().sorted.toSeq ===
      twice.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("ngram jaccard: self-similarity is 1, pairs are symmetric-safe (a<b)") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2)
      .collect()
    // identical docs 0/1/4 → jaccard 1.0; near-dup 2 shares most shingles
    val byPair = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(byPair((0L, 1L)) === 1.0)
    assert(byPair((0L, 4L)) === 1.0)
    assert(byPair((1L, 4L)) === 1.0)
    assert(byPair((0L, 2L)) > 0.5 && byPair((0L, 2L)) < 1.0)
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("minhash LSH finds exact and near duplicates, not the distinct doc") {
    val found = Dedup.nearMinhashLsh(docs, "text", "doc_id", maxDistance = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 1L)))
    assert(found.contains((0L, 4L)))
    assert(!found.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("banded minhash finds every planted near-dup pair on a crafted corpus") {
    // 10 planted pairs: doc 2i+1 differs from doc 2i in exactly one token
    // of 30 → 28 trigram shingles each, 25 shared → Jaccard = 25/31 ≈ 0.81,
    // well inside dist ≤ 0.5. With 8 bands × 2 minhashes the per-pair
    // candidate probability is 1-(1-0.81²)⁸ ≈ 1-2e-4, and the xxhash
    // signatures are deterministic — this asserts the banding actually
    // delivers the recall the docstring claims, not just the happy fixture.
    val base = (0 until 10).map { i =>
      (0 until 30).map(t => s"w${i}_$t").mkString(" ")
    }
    val docs = base.zipWithIndex.flatMap { case (text, i) =>
      val variant = text.replace(s"w${i}_15", "CHANGED")
      Seq((2L * i, text), (2L * i + 1, variant))
    }.toDF("doc_id", "text")
    val found = Dedup.nearMinhashLsh(docs, "text", "doc_id", maxDistance = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val expected = (0 until 10).map(i => (2L * i, 2L * i + 1)).toSet
    assert(found === expected) // all 10 planted pairs, zero false pairs
  }

  test("registered xxhash64 minhash config: recall >= 0.9 vs exact Jaccard on sf0.01") {
    // The md5 twin asserts end-to-end recall through its oracle; this
    // pins the ENGINE-LOCAL hash family at the registered 8-band × 2-row
    // config against brute-forced exact trigram-Jaccard ground truth on
    // the real corpus — an xxhash64 regression (or a band-config change
    // that quietly destroys recall) breaks here, not in production.
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val sh = docs.select(col("doc_id"), array_distinct(
      TextFunctions.wordShingles(col("text"), 3)).as("sh"))
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val exact = a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist", lit(1.0) -
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("dist") <= 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty) // ground truth must be non-trivial
    val found = Dedup.nearMinhashLsh(docs, "text", "doc_id", maxDistance = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect found).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall exact=${exact.size} found=${found.size}")
    // the exact-Jaccard verify step means banding can only LOSE pairs,
    // never invent them
    assert(found.subsetOf(exact), (found diff exact).take(5).toString)
  }

  test("minhashRecall: per-decile counts reconcile with truth and found sets") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.01")
    val out = Dedup.minhashRecall(corpus, "text", "doc_id", maxDistance = 0.5)
      .select("bucket", "n_true", "n_found", "recall_permille")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out.nonEmpty)
    // found ⊆ true per bucket (the verify step can only LOSE pairs), and
    // the permille is the floor ratio
    out.foreach { case (_, nTrue, nFound, permille) =>
      assert(nFound <= nTrue)
      assert(permille === nFound * 1000 / nTrue)
    }
    // totals reconcile with the operators the estimator composes
    val totTrue = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.4999)
      .withColumn("dist", round(lit(1.0) - col("jaccard"), 6))
      .filter(col("dist") <= 0.5).count()
    val totFound = Dedup.nearMinhashMd5(corpus, "text", "doc_id", 0.5).count()
    assert(out.map(_._2).sum === totTrue)
    assert(out.map(_._3).sum === totFound)
  }

  test("simhash: identical docs collide at hamming 0; distinct doc is far") {
    val sigs = docs.select(col("doc_id"),
      TextFunctions.simhash64(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) === sigs(4L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) > 6)
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("hammingPairs bands over the true bit width with guaranteed recall") {
    // 9-bit signatures (the aHash-grid case): maxHamming=1 → 2 bands of
    // widths 5,4. Exhaustive ground truth over the fixture verifies the
    // pigeonhole guarantee — EVERY pair within Hamming 1 must be found.
    val sigs = Seq(
      (0L, 0x1F3L), (1L, 0x1F2L), // hamming 1 (bit 0)
      (2L, 0x1F3L),               // hamming 0 vs doc 0
      (3L, 0x0A5L),               // far from everything
      (4L, 0x1D3L)                // hamming 1 vs 0/2 (bit 5, in band 1)
    ).toDF("id", "sig")
    val found = Dedup.hammingPairs(sigs, "id", "sig", bits = 9, maxHamming = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val exact = (for {
      a <- 0L to 4L; b <- (a + 1) to 4L
      sa = Map(0L -> 0x1F3L, 1L -> 0x1F2L, 2L -> 0x1F3L, 3L -> 0x0A5L,
        4L -> 0x1D3L)
      if java.lang.Long.bitCount(sa(a) ^ sa(b)) <= 1
    } yield (a, b)).toSet
    assert(found === exact)
    assert(exact === Set((0L, 1L), (0L, 2L), (1L, 2L), (0L, 4L), (2L, 4L)))
    // stray bits above the declared width are masked off, not silently
    // counted in the verify while living in no band (recall contract)
    val noisy = Seq((0L, 0x1F3L | (1L << 40)), (1L, 0x1F2L)).toDF("id", "sig")
    val nf = Dedup.hammingPairs(noisy, "id", "sig", bits = 9, maxHamming = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(nf === Set((0L, 1L)))
    // simhashPairs delegates: same answer as before the refactor
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("ngram jaccard stop-shingle guard drops only high-df shingles") {
    // Shingle df in the fixture: prefixes shared by docs 0/1/2/4 have df=4;
    // the '…lazy dog' tail shingles live only in the identical docs 0/1/4
    // (df=3); docs 2 and 3 have df≤1 uniques.
    // guard=3: df-4 shingles drop → the near-dup pair (0,2) loses all its
    // common shingles, but the exact dups still pair on the df-3 tail.
    val g3 = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2,
      maxShingleDf = 3).select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(g3 === Set((0L, 1L), (0L, 4L), (1L, 4L)))
    // guard=2: every shared shingle is dropped → no candidate pairs at all
    val g2 = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2,
      maxShingleDf = 2)
    assert(g2.count() === 0)
    // no guard: the near-dup pair (0,2) is present too
    val all = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(all.contains((0L, 2L)) && g3.subsetOf(all))
  }

  test("ngramJaccardPairs on a 300-document corpus runs at most 6 jobs") {
    // 100 families of 3 near-duplicates: 12 family words, the last one
    // replaced per document
    val corpus = (0 until 300).map { i =>
      (i.toLong, ((0 until 11).map(j => s"g${i / 3}_$j") :+ s"x$i")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val jobs = jobsDuring {
      assert(Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.05,
        maxShingleDfFraction = Some(0.01)).collect().nonEmpty)
    }
    assert(jobs <= 6, s"$jobs jobs")
  }

  test("a repeated q_ngram_jaccard in one session runs 2 jobs: size check, then kernel") {
    val q = graft.queries.LlmOps.qNgramJaccard(spark, sf).count()
    // The kernel's job (its read is the size check; scan and shingling
    // run in its one task) materializes the pairs, then the count reads
    // them. The schema is already known: no inference job, no round-robin
    // shuffle job.
    val jobs = jobsDuring {
      assert(graft.queries.LlmOps.qNgramJaccard(spark, sf).count() === q)
    }
    assert(jobs === 2, s"$jobs jobs")
  }

  test("a repeated q_ppjoin runs 2 jobs: the one-task kernel, then the count") {
    // the shared operator's kernel job, whose read is the size check, then
    // the count over its materialized pairs
    val q = graft.queries.CurateOps.qPpjoin(spark, sf).count()
    val jobs = jobsDuring {
      assert(graft.queries.CurateOps.qPpjoin(spark, sf).count() === q)
    }
    assert(jobs === 2, s"$jobs jobs")
  }

  test("the one-task pair kernel emits exactly the rows the Jaccard tail keeps on unique ids") {
    // q_ngram_jaccard's settings. With unique ids every pair has
    // i ≤ min(ca, cb), so the kernel emits a pair iff the tail keeps it;
    // some counted pairs pass a containment bound but not the Jaccard
    // tail, and are not emitted.
    import PairCounts.PairTail
    val docs = graft.Tables.documents(spark, sf)
    assert(docs.select("doc_id").distinct().count() === docs.count())
    val keys = Dedup.shingleKeys(docs, "text", "doc_id", 3)
    def counts(tail: PairTail) =
      PairCounts.pairCountsOneTask(keys, Long.MaxValue, Some(0.01), tail).get
    val all = counts(PairTail.Jaccard(Double.NegativeInfinity))
    val tail = PairTail.Jaccard(0.05)
    val kept = tail(all).count()
    assert(kept > 0)
    assert(PairTail.Containment(0.05)(all).count() > kept)
    assert(counts(tail).count() === kept)
  }

  test("OneTask.run runs a kernel in one job with no shuffle and stops past the cap") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructType}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import graft.operators.OneTask
    // a kernel that reads its whole input, then emits its row count
    val schema = new StructType().add("n", LongType)
    def rowCount(df: org.apache.spark.sql.DataFrame) =
      OneTask.run(df, schema) { it =>
        var n = 0L
        it.foreach(_ => n += 1)
        Iterator(Row(n))
      }
    val frame = spark.sparkContext.parallelize(0 until 1000, 4).toDF("x")
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    var (jobs, out) = (0, Option.empty[org.apache.spark.sql.DataFrame])
    listening(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          shuffled.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }) { jobs = jobsDuring { out = rowCount(frame) } }
    assert(jobs === 1, s"$jobs jobs")
    assert(shuffled.get === 0L, s"${shuffled.get} shuffle bytes written")
    assert(out.get.as[Long].collect().toSeq === Seq(1000L))
    // both sides of the cap
    assert(rowCount(spark.range(0, OneTask.MaxRows, 1, 4).toDF()).get
      .as[Long].collect().toSeq === Seq(OneTask.MaxRows.toLong))
    assert(rowCount(spark.range(0, OneTask.MaxRows + 1L, 1, 4).toDF()).isEmpty)
    // past the cap the read stops: an upstream counter sees at most cap + 1
    val read = spark.sparkContext.longAccumulator
    val upstream = spark.range(0, 2L * OneTask.MaxRows, 1, 4)
      .map { x => read.add(1); x }.toDF()
    assert(rowCount(upstream).isEmpty)
    assert(read.sum <= OneTask.MaxRows + 1L, s"${read.sum} rows read")
  }

  test("containment finds the embedded quote Jaccard misses") {
    // A short doc quoted VERBATIM inside a long one: Jaccard is diluted by
    // the long doc's union, containment is ~1 — exactly the inclusion case
    // the metric exists for.
    val quote = (0 until 12).map(i => s"q$i").mkString(" ")
    val filler = (0 until 300).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, quote),
      (2L, s"$filler $quote"),
      (3L, (0 until 50).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "text", "doc_id", 3, 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(cont === Set((1L, 2L)))
    val jac = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L))) // union-normalized metric dilutes it away
  }

  test("incremental near-dedup against an AT-REST signature store matches from-scratch") {
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val store = docs.filter(col("doc_id") % 2 === 0)
    // Persist the store signatures (the nightly-pipeline at-rest layout),
    // read them back, and run the batch against the PARQUET round-trip:
    // the result must be row-identical to shingling the store from scratch.
    val dir = graft.operators.Scratch.dir("sig_store")
    Dedup.signatureStore(store, "text", "doc_id").write.mode("overwrite")
      .parquet(dir)
    val viaStore = Dedup.incrementalNearAgainst(batch,
        spark.read.parquet(dir), "text", "doc_id", maxDistance = 0.5)
      .orderBy("doc_id").collect()
    val scratch = Dedup.incrementalNear(batch, store, "text", "doc_id",
        maxDistance = 0.5)
      .orderBy("doc_id").collect()
    assert(viaStore.length > 0)
    assert(viaStore.map(_.toString).toSeq === scratch.map(_.toString).toSeq)
  }
}
