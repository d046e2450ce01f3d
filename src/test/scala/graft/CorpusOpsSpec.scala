package graft

import org.apache.spark.sql.functions._
import graft.operators.{Clusters, Outliers, Ranking}
import graft.functions.{TextFunctions => T}
import graft.queries.CorpusOps

/** Round-4 corpus-pipeline operators: duplicate clustering, BM25, PII
  * redaction, robust outliers, salted join. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("frequentPairs: Apriori prune, multiplicity collapse, exact lift") {
    import graft.operators.Basket
    // o1={A,B,C} (A twice — multiplicity is not co-occurrence), o2/o3={A,B},
    // o4={C,D}, o5={A}. sup: A=4, B=3, C=2, D=1 (pruned). Only A-B (3 of 5
    // orders) survives minPairSup=2: conf = 3000 div 4 = 750,
    // lift = (1000*3*5) div (4*3) = 1250.
    val b = Seq((1L, "A"), (1L, "A"), (1L, "B"), (1L, "C"),
      (2L, "A"), (2L, "B"), (3L, "A"), (3L, "B"),
      (4L, "C"), (4L, "D"), (5L, "A")).toDF("ord", "item")
    val got = Basket.frequentPairs(b, "ord", "item", 2L)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq === Seq(("A", "B", 3L, 4L, 3L, 750L, 1250L)))
    intercept[IllegalArgumentException] {
      Basket.frequentPairs(b, "ord", "item", 0L) // every pair would count
    }
  }

  test("a repeated pruned co-purchase edge build runs 4 jobs") {
    // The distinct's map stage (AQE runs it before the one task reads its
    // shuffle), the one-task kernel's job (its read is the size check),
    // the eager checkpoint of the mirrored edges, then the collect.
    val q = CorpusOps.prunedEdgesBothWays(spark, sf).count()
    val jobs = jobsDuring {
      assert(CorpusOps.prunedEdgesBothWays(spark, sf).collect().length === q)
    }
    assert(jobs === 4, s"$jobs jobs")
  }

  test("rrfFuse: exact integer contributions, cross-list boost, doc_id tiebreak") {
    // list A ranks docs 10,20,30; list B ranks 20,40.
    // contrib(rnk) = 1e9 div (60 + rnk): r1=16393442, r2=16129032, r3=15873015
    val a = Seq((1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L))
      .toDF("q_id", "rnk", "doc_id")
    val b = Seq((1L, 1, 20L), (1L, 2, 40L)).toDF("q_id", "rnk", "doc_id")
    val got = Ranking.rrfFuse(Seq(a, b), k = 10)
      .orderBy("rnk").as[(Long, Int, Long, Long, Long)].collect()
    // doc 20: r2 in A + r1 in B = 16129032 + 16393442 = 32522474, 2 lists
    assert(got(0) === ((1L, 1, 20L, 32522474L, 2L)))
    assert(got(1) === ((1L, 2, 10L, 16393442L, 1L)))
    assert(got(2) === ((1L, 3, 40L, 16129032L, 1L))) // B rank-2 beats A rank-3
    assert(got(3) === ((1L, 4, 30L, 15873015L, 1L)))
    // equal contributions tie-break on doc_id: two rank-1 singletons
    val t1 = Seq((2L, 1, 99L)).toDF("q_id", "rnk", "doc_id")
    val t2 = Seq((2L, 1, 11L)).toDF("q_id", "rnk", "doc_id")
    val tied = Ranking.rrfFuse(Seq(t1, t2), k = 10)
      .orderBy("rnk").as[(Long, Int, Long, Long, Long)].collect()
    assert(tied(0)._3 === 11L && tied(1)._3 === 99L)
    assert(tied(0)._4 === tied(1)._4)
  }

  test("triangleStats: K4 nodes fully clustered, wedge centre and leaf pair at zero") {
    // K4 on 1-4 (every node in 3 triangles, clustering 1.0), a lone edge
    // (5,6), and a wedge 7-8-9 (centre 8 has degree 2 but no triangle);
    // edges deliberately in mixed orientation + one duplicate
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 2L), (2L, 4L),
      (4L, 3L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 8L))
      .toDF("a_id", "b_id")
    val got = Clusters.triangleStats(edges, "a_id", "b_id")
      .select("v", "degree", "n_tri", "clustering_permille")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    for (v <- 1L to 4L) assert(got(v) === ((v, 3L, 3L, 1000L)))
    assert(got(5L) === ((5L, 1L, 0L, 0L)))
    assert(got(8L) === ((8L, 2L, 0L, 0L)))
    assert(got(7L) === ((7L, 1L, 0L, 0L)))
    // global count: Σ per-node / 3 = 4 triangles in K4
    assert(got.values.map(_._3).sum / 3 === 4L)
  }

  // ---- connected components ----

  test("connected components merge transitive chains and keep islands apart") {
    // chain 1-2-3-4 (no 1-4 edge), pair 10-11, triangle 20-21-22
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a_id", "b_id")
    val comp = Clusters.connectedComponents(edges, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
  }

  test("connected components converge on a long path (compression bound)") {
    // a 64-vertex path needs pointer compression to finish inside the
    // 25-round budget: plain min-propagation would need 63 rounds.
    // the ROUND LOOP directly — the size dispatch would pick the one-task
    // union-find, which would trivialize the bound being tested
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Clusters.componentsRounds(edges, maxIter = 25)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 64 && comp.values.forall(_ == 0L))
  }

  test("label propagation splits bridged cliques that components merge") {
    // two 4-cliques bridged by ONE edge (4-5): connectivity sees one
    // component, plurality voting keeps two communities — the semantic
    // difference q_communities exists for. Undirected → both directions.
    val cl1 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val cl2 = for (a <- 5L to 8L; b <- 5L to 8L if a != b) yield (a, b)
    val edges = (cl1 ++ cl2 ++ Seq((4L, 5L), (5L, 4L))).toDF("i", "j")
    val lbl = Clusters.labelPropagation(edges, "i", "j", rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(lbl.size === 8)
    val c1 = (1L to 4L).map(lbl).toSet
    val c2 = (5L to 8L).map(lbl).toSet
    assert(c1.size === 1 && c2.size === 1, s"cliques must be uniform: $lbl")
    assert(c1 != c2, s"bridged cliques must keep distinct labels: $lbl")
    // one component under connectivity — the contrast that makes LPA
    // a different operator, not a components twin
    val comp = Clusters.connectedComponents(
        edges.filter(col("i") < col("j")), "i", "j")
      .as[(Long, Long)].collect().toMap
    assert(comp.values.toSet.size === 1)
  }

  test("subsample CI band brackets the full median and orders correctly") {
    val out = graft.queries.StatOps.qSubsampleCi(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (full, lo, hi) = (r.getAs[Long]("median_full_c"),
        r.getAs[Long]("ci_lo_c"), r.getAs[Long]("ci_hi_c"))
      assert(lo <= hi, s"band inverted: $r")
      // half-subsample medians of a 6-digit-sized group concentrate
      // tightly; the rank-2..15 band must bracket the full median
      assert(lo <= full && full <= hi, s"band misses the full median: $r")
    }
  }

  test("single-task and iterative components agree on a random graph") {
    // deterministic pseudo-random edge set: multiplicative-hash endpoints
    // over 300 vertices, ~200 edges — chains, triangles, islands included
    val edges = (0L until 200L)
      .map(i => ((i * 2654435761L) % 300L, (i * 40503L + 7L) % 300L))
      .filter { case (a, b) => a != b }
      .toDF("a_id", "b_id")
    val fast = Clusters.connectedComponents(edges, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    val iter = Clusters.componentsRounds(edges.toDF("src", "dst"), maxIter = 25)
      .as[(Long, Long)].collect().toMap
    assert(fast === iter)
    assert(fast.nonEmpty)
  }

  // ---- PII redaction ----

  test("PII redaction masks emails, IPs, and phone numbers") {
    val df = Seq(
      (0L, "contact alice.smith+x@example.org or bob@sub.domain.co today"),
      (1L, "server at 192.168.0.1 and 10.0.255.13 replied"),
      (2L, "call +1 555 123 4567 or 020-7946-0958 now"),
      (3L, "no pii in this plain sentence at all")
    ).toDF("doc_id", "text")
    val out = df.select(
      col("doc_id"),
      T.piiEmails(col("text")).as("e"),
      T.piiIps(col("text")).as("i"),
      T.piiPhones(col("text")).as("p"),
      T.redactPii(col("text")).as("red"))
      .orderBy("doc_id")
      .collect()
    assert(out(0).getLong(1) == 2 &&
      out(0).getString(4) == "contact [EMAIL] or [EMAIL] today")
    assert(out(1).getLong(2) == 2 &&
      out(1).getString(4) == "server at [IP] and [IP] replied")
    assert(out(2).getLong(3) == 2 &&
      out(2).getString(4) == "call [PHONE] or [PHONE] now")
    assert(out(3).getString(4) == "no pii in this plain sentence at all")
  }

  test("PII counts follow the redaction cascade: email digits are not phones") {
    val df = Seq((0L, "reach 12345678@example.com today")).toDF("doc_id", "text")
    val r = df.select(T.piiEmails(col("text")).as("e"),
      T.piiPhones(col("text")).as("p"),
      T.redactPii(col("text")).as("red")).head()
    // the 8-digit local part is part of the email, so the counts must agree
    // with the redacted text (one [EMAIL] mask, no [PHONE] mask)
    assert(r.getLong(0) == 1 && r.getLong(1) == 0 &&
      r.getString(2) == "reach [EMAIL] today")
  }

  test("PII redaction does not double-count IPs as phones") {
    val df = Seq((0L, "ip 192.168.100.200 is not a phone")).toDF("doc_id", "text")
    val r = df.select(T.piiPhones(col("text")).as("p"),
      T.piiIps(col("text")).as("i"),
      T.redactPii(col("text")).as("red")).head()
    assert(r.getLong(0) == 0 && r.getLong(1) == 1 &&
      r.getString(2) == "ip [IP] is not a phone")
  }

  // ---- BM25 ----

  test("BM25 ranks a term-dense short doc above sparse and absent docs") {
    // hand-checkable corpus: doc 0 has both terms repeatedly and is short,
    // doc 1 mentions one once in a long body, doc 2 has none
    val docs = Seq(
      (0L, "spark table spark table spark"),
      (1L, "one mention of spark inside a much longer body of text " +
        "padded with many other words to stretch the document length"),
      (2L, "nothing relevant here at all")
    ).toDF("doc_id", "text")
    val scored = Ranking.bm25(docs, "doc_id", "text", Seq("spark", "table"),
        k = 10)
      .as[(Long, Double)].collect().toMap
    assert(scored(0L) > scored(1L))
    assert(!scored.contains(2L)) // no query terms → no posting rows at all
    assert(scored.values.forall(_ > 0.0))
  }

  // ---- robust outliers ----

  test("median/MAD flags the planted outlier and nothing else") {
    val ev = (1L to 20L).map(i => (i, "click", 10.0 + (i % 5))) :+
      ((21L, "click", 500.0)) // the outlier
    val df = ev.toDF("event_id", "event_type", "value")
    val flagged = Outliers.robustOutliers(df, "event_type", "value", 3.0)
      .select("event_id").as[Long].collect()
    assert(flagged.toSeq == Seq(21L))
  }

  test("MAD = 0 groups yield null z-scores and no flags (never Infinity)") {
    // 9 of 11 rows sit exactly on the median → MAD = 0; the two off-median
    // rows must NOT be emitted as Infinity outliers (oracle divergence:
    // DuckDB NULLs double division by zero)
    val df = ((1L to 9L).map(i => (i, "hb", 5.0)) ++
      Seq((10L, "hb", 9.0), (11L, "hb", 1.0))).toDF("event_id", "event_type", "value")
    assert(Outliers.robustOutliers(df, "event_type", "value", 3.0).isEmpty)
  }

  // ---- salted join ----

  test("salted join returns exactly the unsalted join's aggregate") {
    val salted = CorpusOps.qJoinSalted(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy("o_orderpriority")
      .as[(String, Long, Double)].collect().toSeq
    assert(salted == plain)
  }

  // ---- SCD2 intervals ----

  test("SCD2 intervals chain without gaps and close only the latest row") {
    val rows = CorpusOps.qScd2(spark, sf)
      .select("user_id", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect()
    val byUser = rows.groupBy(_._1)
    byUser.values.foreach { u =>
      val sorted = u.sortBy(_._2)
      // exactly one open (current) row per user, and it is the last one
      assert(sorted.count(_._4) == 1 && sorted.last._4)
      // every closed row's valid_to equals the next row's valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3.contains(b._2))
        case _ =>
      }
    }
  }

  // ---- hash sampling ----

  test("hash sampling is a pure content function: stable and subset-closed") {
    val once = CorpusOps.qSampleHash(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val again = CorpusOps.qSampleHash(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(once == again && once.nonEmpty)
    // threshold monotonicity: a tighter prefix threshold samples a subset
    val tighter = Tables.documents(spark, sf)
      .withColumn("h2", substring(md5(col("text")), 1, 2))
      .filter(col("h2") <= "10")
      .select("doc_id").as[Long].collect().toSet
    assert(tighter.subsetOf(once))
  }

  // ---- cohort retention ----

  test("retention matrix separates cohorts and decays offsets correctly") {
    // cohort 0: users 1,2 (u1 active weeks 0,1,2; u2 weeks 0,2)
    // cohort 1: user 3 (active weeks 1,3)
    val activity = Seq(
      (1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 0L), (2L, 2L),
      (3L, 1L), (3L, 3L)
    ).toDF("user_id", "week")
    val m = graft.operators.Retention.cohortMatrix(activity, "user_id", "week")
      .as[(Long, Long, Long)].collect()
      .map { case (c, o, n) => (c, o) -> n }.toMap
    assert(m == Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 2L,
      (1L, 0L) -> 1L, (1L, 2L) -> 1L))
  }

  // ---- container magic bytes (multimodal) ----

  private def le(v: Long, len: Int): Array[Byte] =
    Array.tabulate(len)(i => ((v >> (8 * i)) & 0xff).toByte)

  private def bmpBytes(w: Int, h: Int, bpp: Int): Array[Byte] =
    "BM".getBytes ++ le(0, 4) ++ le(0, 4) ++ le(54, 4) ++ // file header
      le(40, 4) ++ le(w, 4) ++ le(h, 4) ++ le(1, 2) ++ le(bpp, 2) // info header

  private def wavBytes(ch: Int, rate: Int, bits: Int): Array[Byte] =
    "RIFF".getBytes ++ le(36, 4) ++ "WAVE".getBytes ++ "fmt ".getBytes ++
      le(16, 4) ++ le(1, 2) ++ le(ch, 2) ++ le(rate, 4) ++
      le(rate * ch * bits / 8, 4) ++ le(ch * bits / 8, 2) ++ le(bits, 2)

  test("PNG and JPEG magic bytes sniff their mime types") {
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val jpg = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)
    val mimes = Seq((0L, png), (1L, jpg), (2L, bmpBytes(640, 480, 24)),
        (3L, wavBytes(2, 44100, 16)), (4L, "plain text bytes".getBytes))
      .toDF("id", "payload")
      .select(graft.operators.Multimodal.detectMime(col("payload"), "?"))
      .as[String].collect()
    assert(mimes.sorted.toSeq ==
      Seq("?", "audio/wav", "image/bmp", "image/jpeg", "image/png"))
  }

  // ---- SQL extension surface ----

  test("vector and simhash kernels are callable from SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT
        |  cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c1,
        |  cosine_sim(array(1.0F, 0.0F), array(0.0F, 1.0F)) AS c0,
        |  dot_product(array(2.0F, 3.0F), array(4.0F, 5.0F)) AS dp,
        |  simhash64(array('a', 'b', 'a')) AS sh""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(r.getDouble(1)) < 1e-9)
    assert(math.abs(r.getDouble(2) - 23.0) < 1e-9)
    // same signature as the column-function path
    val viaCol = Seq("a b a").toDF("text")
      .select(graft.functions.TextFunctions.simhash64(col("text")))
      .head().getLong(0)
    assert(r.getLong(3) == viaCol)
  }

  test("SQL kernels reject wrong-typed arguments at analysis time") {
    for (bad <- Seq(
        "SELECT cosine_sim('a', 'b')",
        "SELECT dot_product(array(1, 2), array(3, 4))",
        "SELECT simhash64(array(1, 2))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(bad).head()
      }
      assert(e.getMessage.contains("expects") ||
        e.getMessage.contains("DATATYPE_MISMATCH"), s"$bad → ${e.getMessage}")
    }
  }

  test("salted join does not broadcast (the salt must reach the shuffle)") {
    val p = CorpusOps.qJoinSalted(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("deterministic walks: every step follows an edge, replay is identical, a new seed redraws") {
    import spark.implicits._
    import graft.operators.Walks
    // a known graph: cycle 0->1->2->3->0 plus chords, and a dead end 9
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L),
      (2L, 0L), (1L, 3L), (4L, 9L)).toDF("s", "d")
    val starts = Seq(0L, 1L, 4L).toDF("node")
    def run(seed: String) = Walks.deterministicWalks(
        edges, "s", "d", starts, "node", steps = 4, seed = seed)
      .select("walk_id", "step", "node").as[(Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2))
    val a = run("s1")
    assert(a.toSeq === run("s1").toSeq) // pure function of (graph, seed)
    // validity: consecutive steps of a walk are edges of the graph
    val eset = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L),
      (2L, 0L), (1L, 3L), (4L, 9L)).toSet
    a.groupBy(_._1).values.foreach { w =>
      w.sortBy(_._2).sliding(2).foreach {
        case Array((_, s1, n1), (_, s2, n2)) =>
          assert(s2 === s1 + 1 && eset.contains((n1, n2)),
            s"non-edge step $n1 -> $n2")
        case _ =>
      }
    }
    // the dead-end walk truncates: 4 -> 9 and stops (9 has no out-edges)
    val w4 = a.filter(_._1 == 4L).sortBy(_._2).map(_._3).toSeq
    assert(w4 === Seq(4L, 9L))
    // walks from 0 and 1 run the full length on the strongly-closed core
    Seq(0L, 1L).foreach { s =>
      assert(a.count(_._1 == s) === 5, s"walk $s not full length")
    }
    // a different seed draws a different corpus (not all steps equal)
    val b = run("s2")
    assert(a.toSeq !== b.toSeq)
  }

  test("record linkage recovers every planted twin (pigeonhole recall) with exact precision") {
    import spark.implicits._
    import graft.operators.RecordLinkage
    // names 'ID-ddddddddd'; twin perturbs ONE digit at a position keyed to
    // the id — disjoint spans (4,5)+(9,4) over the digits guarantee recall
    val clean = (0L until 200L).map(i => (i, i % 3, f"ID-$i%09d"))
    val twins = clean.filter(_._1 % 4 == 0).map { case (i, g, nm) =>
      val p = (3 + i % 9).toInt // 0-based digit position in the string
      val d = nm.charAt(p) - '0'
      (i + 10000L, g, nm.updated(p, (('0' + (d + 1 + i % 8) % 10)).toChar))
    }
    val recs = (clean ++ twins).toDF("rid", "g", "nm")
    val out = RecordLinkage.linkByBlocking(recs, "rid", "g", "nm",
        spans = Seq((4, 5), (9, 4)), maxEdits = 1)
      .select("a_id", "b_id", "edits").as[(Long, Long, Long)].collect()
    val found = out.map(r => (r._1, r._2)).toSet
    twins.foreach { case (tid, _, _) =>
      assert(found.contains((tid - 10000L, tid)),
        s"planted twin pair (${tid - 10000}, $tid) not recovered")
    }
    // exact precision: every emitted pair truly is <= 1 edit apart
    val byId = (clean ++ twins).map(r => r._1 -> r._3).toMap
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    out.foreach { case (a, b, e) =>
      assert(lev(byId(a), byId(b)) === e.toInt && e <= 1L)
    }
  }

  test("pareto frontier equals brute force and respects dominance invariants") {
    import spark.implicits._
    import graft.operators.Skyline
    val rnd = new scala.util.Random(13)
    val rows = (0L until 300L).map(i =>
      (s"s${i % 2}", i, rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
    val df = rows.toDF("source", "id", "c", "u")
    // small bucketWidth forces the two-phase path across many buckets
    val got = Skyline.paretoFrontier(df, "source", "id", "c", "u",
        bucketWidth = 16L)
      .select("g", "id").as[(String, Long)].collect().toSet
    val brute = rows.filter { case (g, _, c, u) =>
      !rows.exists { case (g2, _, c2, u2) =>
        g2 == g && c2 <= c && u2 >= u && (c2 < c || u2 > u) }
    }.map(r => (r._1, r._2)).toSet
    assert(got === brute)
    // exact double ties are mutually undominated: both must survive
    val tied = Seq(("t", 1L, 10L, 10L), ("t", 2L, 10L, 10L),
      ("t", 3L, 20L, 5L)).toDF("source", "id", "c", "u")
    val keep = Skyline.paretoFrontier(tied, "source", "id", "c", "u")
      .select("id").as[Long].collect().toSet
    assert(keep === Set(1L, 2L))
  }

  /** The sf0.001 support-pruned undirected co-purchase edge list, collected
    * once for the round-11 graph-analytics brute-force cross-checks. */
  private lazy val prunedUndirected: Seq[(Long, Long)] = {
    import spark.implicits._
    val po = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    po.as("a").join(po.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("i"), col("b.p").as("j"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select("i", "j").as[(Long, Long)].collect().toSeq
  }

  private lazy val adjacency: Map[Long, Set[Long]] = {
    val m = collection.mutable.Map[Long, Set[Long]]()
    prunedUndirected.foreach { case (i, j) =>
      m(i) = m.getOrElse(i, Set.empty) + j
      m(j) = m.getOrElse(j, Set.empty) + i
    }
    m.toMap
  }

  test("clustering coefficient matches brute-force per-node triangles") {
    import spark.implicits._
    val out = CorpusOps.qClusteringCoef(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val triBF: Map[Long, Int] = adjacency.map { case (v, nb) =>
      val ns = nb.toSeq
      v -> (for (a <- ns; b <- ns if a < b && adjacency(a).contains(b))
        yield 1).size
    }
    assert(out.length === adjacency.count(_._2.size >= 2))
    assert(out.exists(_._3 > 0L), "sf0.001 pruned graph has triangles")
    out.foreach { case (part, degree, nTri, lcc) =>
      assert(degree === adjacency(part).size.toLong, s"deg of $part")
      assert(nTri === triBF(part).toLong, s"tri of $part")
      assert(lcc ===
        (BigInt(2000000) * nTri / (BigInt(degree) * (degree - 1))).toLong)
      assert(lcc >= 0L && lcc <= 1000000L)
    }
  }

  test("k-core peeling matches a brute-force 4-round simulation") {
    import spark.implicits._
    val out = CorpusOps.qKcore(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    // simulate: survivors_0 = all; each round keep deg-in-subgraph >= 3
    var surv = adjacency.keySet
    val removedAt = collection.mutable.Map[Long, Long]()
    for (round <- 1 to 4) {
      val next = surv.filter(v => (adjacency(v) & surv).size >= 3)
      (surv -- next).foreach(v => removedAt(v) = round.toLong)
      surv = next
    }
    assert(out.length === adjacency.size)
    out.foreach { case (part, deg0, rr, coreDeg) =>
      assert(deg0 === adjacency(part).size.toLong)
      assert(rr === removedAt.getOrElse(part, 0L), s"round of $part")
      val expectCore =
        if (surv.contains(part)) (adjacency(part) & surv).size.toLong else 0L
      assert(coreDeg === expectCore, s"core_deg of $part")
    }
  }

  test("k-core peels a planted pendant chain round by round") {
    import spark.implicits._
    import graft.operators.Clusters
    // a 4-clique (1..4, 3-core) with a pendant path 4-5-6-7: the path
    // peels INWARD one vertex per round (7 first — k=2 here), while the
    // clique survives every round with its full internal degree
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val path = Seq((4L, 5L), (5L, 4L), (5L, 6L), (6L, 5L),
      (6L, 7L), (7L, 6L))
    val edges = (clique ++ path).toDF("i", "j")
    val got = Clusters.boundedKcore(edges, "i", "j", k = 2, rounds = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    // degrees: 1,2,3 -> 3; 4 -> 4; 5 -> 2; 6 -> 2; 7 -> 1
    assert(got(7L) === ((1L, 1L, 0L)))  // deg 1 < 2: removed round 1
    assert(got(6L) === ((2L, 2L, 0L)))  // loses 7, then deg 1: round 2
    assert(got(5L) === ((2L, 3L, 0L)))  // loses 6, then deg 1: round 3
    (1L to 3L).foreach(v => assert(got(v) === ((3L, 0L, 3L))))
    assert(got(4L) === ((4L, 0L, 3L)))  // pendant gone, clique deg stays
  }

  test("assortativity matches exact BigInt moments over directed edges") {
    val row = CorpusOps.qAssortativity(spark, sf).collect()(0)
    val deg = adjacency.view.mapValues(_.size).toMap
    val xs = prunedUndirected.flatMap { case (i, j) =>
      Seq((deg(i), deg(j)), (deg(j), deg(i))) } // both directions
    val m = BigInt(xs.size)
    val sx = xs.map(p => BigInt(p._1)).sum
    val sxy = xs.map(p => BigInt(p._1) * p._2).sum
    val sx2 = xs.map(p => BigInt(p._1) * p._1).sum
    assert(row.getAs[Long]("n_edges") === m.toLong)
    assert(row.getAs[Long]("sum_deg") === sx.toLong)
    assert(row.getAs[Long]("sum_xy") === sxy.toLong)
    assert(row.getAs[Long]("sum_x2") === sx2.toLong)
    val expected = (m * sxy - sx * sx).toDouble / (m * sx2 - sx * sx).toDouble
    assert(row.getAs[Double]("assortativity") === expected)
    assert(math.abs(row.getAs[Double]("assortativity")) < 1.0)
  }

  test("link prediction matches brute-force CN/Jaccard/Adamic-Adar on 2-hop non-edges") {
    import spark.implicits._
    val got = CorpusOps.qLinkPredict(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    val deg = adjacency.view.mapValues(_.size).toMap
    def aaTerm(d: Int): Long = math.round(1e6 / math.log(d.toDouble))
    val cand = collection.mutable.Map[(Long, Long), (Long, Long)]()
    adjacency.foreach { case (z, nb) =>
      val ns = nb.toSeq.sorted
      for (a <- ns; b <- ns if a < b && !adjacency(a).contains(b)) {
        val (cn, aa) = cand.getOrElse((a, b), (0L, 0L))
        cand((a, b)) = (cn + 1L, aa + aaTerm(deg(z)))
      }
    }
    val brute = cand.toSeq.map { case ((u, w), (cn, aa)) =>
      (u, w, cn, BigInt(cn) * 1000000 / (deg(u) + deg(w) - cn), aa)
    }.sortBy(t => (-t._3, -t._5, t._1, t._2)).take(50)
      .map(t => (t._1, t._2, t._3, t._4.toLong, t._5))
    assert(got.toSeq === brute)
    assert(got.length === 50)
  }

  test("Apriori 3-itemsets equal the unpruned brute-force triple census") {
    import spark.implicits._
    val got = CorpusOps.qItemsets3(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    // brute force WITHOUT the Apriori prune: count every per-order triple
    // — downward closure says pruning is lossless, so the sets must match
    val baskets = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector)
    val cnt = collection.mutable.Map[(Long, Long, Long), Long]()
    baskets.foreach { case (_, ps) =>
      for (x <- ps.indices; y <- x + 1 until ps.size;
           z <- y + 1 until ps.size) {
        val k = (ps(x), ps(y), ps(z))
        cnt(k) = cnt.getOrElse(k, 0L) + 1L
      }
    }
    val brute = cnt.filter(_._2 >= 2L)
      .map { case ((a, b, c), s) => (a, b, c, s) }.toSet
    assert(got === brute)
    assert(got.nonEmpty, "sf0.001 has frequent triples")
  }

  test("kaplan-meier: survival is monotone non-increasing, risk set counts down, censoring holds rows out of churn") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.CorpusOps.qKaplanMeier(spark, sf).collect()
    assert(rows.nonEmpty, "orders must yield churn tenures")
    val s = rows.map(_.getAs[Long]("s_milli")).toSeq
    assert(s === s.sorted.reverse, s"survival must be non-increasing: $s")
    assert(s.head <= 1000L && s.forall(_ >= 0L))
    val risk = rows.map(_.getAs[Long]("n_risk")).toSeq
    assert(risk === risk.sorted.reverse, "risk set can only shrink")
    // censoring: churners are strictly fewer than customers (the sf data
    // has active-to-the-horizon customers), and the at-risk count at the
    // first churn tenure is bounded by the customer total
    val nCust = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_custkey").distinct().count()
    val nChurn = rows.map(_.getAs[Long]("n_churn")).sum
    assert(nChurn < nCust, "right-censoring must hold some customers out")
    assert(risk.head <= nCust)
  }

  test("markov stationary: mass ≈ 1, ranking matches a BigInt replay of the unrolled iteration") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.CorpusOps.qMarkovStationary(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // floor-div leak only: total mass within 1% of 1e6
    val mass = got.map(_._2).sum
    assert(mass > 990000L && mass <= 1000000L, s"mass=$mass")
    // exact replay: rebuild p_ppm and iterate 8 rounds in BigInt with the
    // same floor divisions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val p = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy("prev", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = p.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val ppm = p.map { case (i, j, n) => (i, j) -> n * 1000000L / out(i) }.toMap
    val states = (p.map(_._1) ++ p.map(_._2)).distinct.sorted
    var v = states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to 8)
      v = states.map { j =>
        j -> ppm.collect { case ((a, b), pp) if b == j =>
          v.getOrElse(a, 0L) * pp }.sum / 1000000L
      }.toMap
    // the query emits one row per state with INBOUND edges (a state with
    // zero inflow carries zero mass either way)
    val expected = p.map(_._2).distinct.sorted.map(st => (st, v(st)))
    assert(got === expected)
  }
}
