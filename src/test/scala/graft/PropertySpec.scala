package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded randomized property checks for the operators whose value IS a
  * guarantee: the winnowing recall bound, URL-canonicalization idempotence,
  * partial-aggregate merge equivalence, PageRank mass invariants, and the
  * one-task paths' equivalence with the distributed plans they replace. A
  * fixed seed keeps every run identical (no flaky CI), while the random
  * structure covers shapes no hand-written fixture would. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // one Random PER TEST (fresh stream each call): a single shared stream
  // would make each test's inputs depend on suite execution order, so a
  // failure seen under `testOnly -z` would not reproduce in a full run
  private def freshRandom(testIndex: Int) = new Random(20260813L + testIndex)

  private def randTokens(rnd: Random, n: Int,
      vocab: IndexedSeq[String]): Seq[String] =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))

  test("PROPERTY winnow: every shared w+k-1 run yields a shared fingerprint (20 random corpora)") {
    val rnd = freshRandom(1)
    val (k, w) = (3, 4)
    for (caseIdx <- 1 to 20) {
      val vocab = IndexedSeq.tabulate(40)(i => s"t${caseIdx}_$i")
      // shared run strictly longer than the guarantee bound
      val runLen = w + k - 1 + rnd.nextInt(6)
      val shared = randTokens(rnd, runLen, vocab).mkString(" ")
      val d1 = (randTokens(rnd, rnd.nextInt(12), vocab) :+ shared) ++
        randTokens(rnd, rnd.nextInt(12), vocab)
      val d2 = (randTokens(rnd, rnd.nextInt(12), vocab) :+ shared) ++
        randTokens(rnd, rnd.nextInt(12), vocab)
      val df = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")))
        .toDF("doc_id", "text")
      val fps = graft.operators.Winnow.fingerprints(df, "text", "doc_id", k, w)
        .collect().groupBy(_.getLong(0))
        .map { case (d, rs) => d -> rs.map(_.getString(2)).toSet }
      assert((fps(1L) intersect fps(2L)).nonEmpty,
        s"case $caseIdx: no shared fingerprint despite a $runLen-token run")
    }
  }

  test("PROPERTY url canonicalize is idempotent over random noisy urls") {
    val rnd = freshRandom(2)
    val hosts = Seq("A.Example.COM", "b.example.com", "WWW.C.EX.io")
    val urls = (1 to 60).map { _ =>
      val scheme = if (rnd.nextBoolean()) "https://" else "HTTPS://"
      val port = if (rnd.nextBoolean()) ":443" else ""
      val path = "/" + Seq.fill(rnd.nextInt(3))("p" + rnd.nextInt(9)).mkString("/")
      val slash = if (rnd.nextBoolean()) "/" else ""
      val params = rnd.shuffle(Seq("a=1", "b=2", "utm_x=9", "ref=s")
        .take(rnd.nextInt(5))).mkString("&")
      val q = if (params.nonEmpty) "?" + params else ""
      val frag = if (rnd.nextBoolean()) "#sec" else ""
      scheme + hosts(rnd.nextInt(hosts.size)) + port + path + slash + q + frag
    } :+ "http://passthrough.example.com/x" :+ "garbage ¯\\_(ツ)_/¯"
    val df = urls.toDF("url")
    val once = df.select(graft.operators.UrlOps.canonicalize(col("url")))
      .as[String].collect()
    val twice = df.select(graft.operators.UrlOps.canonicalize(
      graft.operators.UrlOps.canonicalize(col("url")))).as[String].collect()
    assert(once.toSeq === twice.toSeq)
    // canonical https urls carry no tracking params, ports, or fragments
    once.filter(_.startsWith("https://")).foreach { u =>
      assert(!u.contains("utm_") && !u.contains("ref=") &&
        !u.contains(":443") && !u.contains("#"), u)
    }
  }

  test("PROPERTY merged partials equal the from-scratch aggregate (10 random splits)") {
    val rnd = freshRandom(3)
    import graft.operators.Layout
    for (caseIdx <- 1 to 10) {
      val rows = Seq.fill(60 + rnd.nextInt(60))(
        (s"k${rnd.nextInt(6)}", rnd.nextInt(1000).toLong))
      val df = rows.toDF("k", "v")
      val cut = rnd.nextInt(rows.size)
      val (b, d) = (rows.take(cut), rows.drop(cut))
      val merged = Layout.mergePartialAggs(
        Layout.partialAgg(b.toDF("k", "v"), Seq("k"), "v"),
        Layout.partialAgg(d.toDF("k", "v"), Seq("k"), "v"), Seq("k"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val direct = df.groupBy("k")
        .agg(count(lit(1)).as("cnt"), sum("v").as("total"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(merged === direct, s"case $caseIdx (cut=$cut)")
    }
  }

  test("PROPERTY pagerank: teleport floor and mass bound hold on random graphs") {
    val rnd = freshRandom(4)
    import graft.operators.Clusters
    for (caseIdx <- 1 to 8) {
      val n = 4 + rnd.nextInt(5)
      val edges = (1 to n * 2).map(_ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}", 1L + rnd.nextInt(9)))
        .filter { case (a, b, _) => a != b }
      if (edges.nonEmpty) {
        val r = Clusters.pageRankWeighted(edges.toDF("src", "dst", "w"),
          "src", "dst", "w", iterations = 5)
          .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
        assert(r.keySet === nodes, s"case $caseIdx")
        // teleport floor; total mass can only shrink (dangling drop + floor)
        assert(r.values.forall(_ >= 150000L), s"case $caseIdx: $r")
        assert(r.values.sum <= nodes.size * 1000000L + nodes.size,
          s"case $caseIdx: mass grew: $r")
      }
    }
  }

  test("PROPERTY bpe: distributed merges match an independent reference trainer (8 random corpora)") {
    val rnd = freshRandom(5)
    // Reference Sennrich BPE over a word-frequency map, written against
    // the algorithm (symbol lists, per-word pair scans), NOT the engine's
    // single-char-replace representation — a genuinely independent path.
    def refBpe(freqs: Map[String, Long], n: Int): Seq[(String, Long)] = {
      var vocab = freqs.map { case (w, f) => (w.map(_.toString).toList, f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      // The TIE-BREAK is part of the engine's contract: pairs compare as
      // 2-char strings in the single-char symbol space (merge r's symbol
      // is U+4E00+r). The reference emulates that ORDER (chr assignment
      // below) but applies merges through an independent list-based scan —
      // the mechanics under test never touch the replace representation.
      val chrOf = scala.collection.mutable.Map.empty[String, Char]
      def key(s: String): Char = chrOf.getOrElse(s, s.charAt(0))
      var r = 0
      var done = false
      while (r < n && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, f) <- vocab; p <- syms.zip(syms.tail))
          counts(p) = counts.getOrElse(p, 0L) + f
        if (counts.isEmpty) done = true
        else {
          val best = counts.toSeq
            .minBy { case ((a, b), c) => (-c, key(a), key(b)) }
          chrOf(best._1._1 + best._1._2) = (0x4E00 + r).toChar
          out += ((best._1._1 + best._1._2, best._2))
          vocab = vocab.map { case (syms, f) =>
            val merged = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == best._1._1 &&
                syms(i + 1) == best._1._2) {
                merged += best._1._1 + best._1._2; i += 2
              } else { merged += syms(i); i += 1 }
            }
            (merged.toList, f)
          }
        }
        r += 1
      }
      out.toSeq
    }
    for (caseIdx <- 1 to 8) {
      val words = IndexedSeq("spark", "table", "scan", "join", "agg", "row")
      val docs = (1 to 6).map(_ => randTokens(rnd, 4 + rnd.nextInt(12),
        words).mkString(" ")).toDF("text")
      val nMerges = 1 + rnd.nextInt(5)
      val engine = graft.operators.Bpe.train(docs, "text", nMerges)
        .orderBy("merge_rank").collect()
        .map(x => (x.getString(1), x.getLong(2))).toSeq
      val freqs = docs.collect().flatMap(_.getString(0).split(" "))
        .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      assert(engine === refBpe(freqs, nMerges), s"case $caseIdx")
    }
  }

  test("PROPERTY boilerplate: matches an independent per-source line filter (10 random corpora)") {
    val rnd = freshRandom(6)
    for (caseIdx <- 1 to 10) {
      val nDocs = 3 + rnd.nextInt(8)
      val docs = (1 to nDocs).map { i =>
        // small line vocabulary forces real cross-doc repeats
        val lines = (0 to rnd.nextInt(5)).map(_ => s"line${rnd.nextInt(4)}")
        (i.toLong, s"s${rnd.nextInt(2)}", lines.mkString("\n"))
      }
      val minDf = 2 + rnd.nextInt(2)
      val out = graft.operators.Boilerplate
        .strip(docs.toDF("doc_id", "source", "text"),
          "text", "doc_id", "source", minDf)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3)))
      // independent reference: Scala collections, per-source df over
      // DISTINCT docs, position-preserving filter
      val df = docs.groupBy(_._2).map { case (src, ds) =>
        src -> ds.flatMap(d => d._3.split("\n", -1).distinct.map(l => (d._1, l)))
          .groupBy(_._2).map { case (l, xs) => l -> xs.map(_._1).distinct.size }
      }
      val expect = docs.map { case (id, src, text) =>
        val lines = text.split("\n", -1).toSeq
        val kept = lines.filter(l => df(src)(l) < minDf)
        (id, lines.size.toLong,
          if (kept.isEmpty) -1L else kept.size.toLong,
          if (kept.isEmpty) null
          else java.security.MessageDigest.getInstance("MD5")
            .digest(kept.mkString("\n").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString)
      }.sortBy(_._1)
      assert(out.toSeq === expect, s"case $caseIdx")
    }
  }

  test("PROPERTY hammingPairs equals brute force over random signatures (12 random cases)") {
    // The pigeonhole claim is a THEOREM about the banding, so test it
    // like one: for random widths, thresholds, and signature sets
    // (including duplicate and high-bit-noise signatures), the banded
    // candidates + verify must equal the exact all-pairs answer — no
    // missed pair (recall) and no extra pair (verify) on any draw.
    val rnd = freshRandom(6)
    for (caseIdx <- 1 to 12) {
      val bits = 4 + rnd.nextInt(16)             // 4..19
      val maxH = rnd.nextInt(math.min(bits, 4))  // 0..min(bits,4)-1
      val n = 8 + rnd.nextInt(40)
      val mask = (1L << bits) - 1L
      val sigsRaw = (0L until n).map { id =>
        // sprinkle noise ABOVE the declared width: must be masked off
        val noise = if (rnd.nextBoolean()) rnd.nextLong() & ~mask else 0L
        (id, (rnd.nextLong() & mask) | noise)
      }
      val found = graft.operators.Dedup.hammingPairs(
          sigsRaw.toDF("id", "sig"), "id", "sig", bits, maxH)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val masked = sigsRaw.map { case (id, s) => id -> (s & mask) }.toMap
      val exact = (for {
        a <- 0L until n; b <- (a + 1) until n
        if java.lang.Long.bitCount(masked(a) ^ masked(b)) <= maxH
      } yield (a, b)).toSet
      assert(found === exact,
        s"case $caseIdx bits=$bits maxH=$maxH n=$n: " +
          s"missed=${(exact diff found).take(3)} extra=${(found diff exact).take(3)}")
    }
  }

  test("PROPERTY two-phase rank equals the naive window for random buckets (8 random cases)") {
    // The Ranks contract is an identity — offset + in-bucket rank must
    // equal the whole-group rank for ANY monotone bucketing — so test it
    // like one: random group counts, random skewed value ranges, random
    // bucket widths (including a width coarser than the whole domain and
    // width 1 = one bucket per distinct value), heavy ties.
    val rnd = freshRandom(7)
    for (caseIdx <- 1 to 8) {
      val nGroups = 1 + rnd.nextInt(4)
      val n = 50 + rnd.nextInt(300)
      val vRange = 1 + rnd.nextInt(40) // heavy ties when small
      val width = 1 + rnd.nextInt(60)  // may exceed the whole domain
      val rows = (0L until n).map { id =>
        (id, s"g${rnd.nextInt(nGroups)}", rnd.nextInt(vRange).toLong)
      }
      val df = rows.toDF("id", "g", "v").localCheckpoint(eager = true)
      val naive = df.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("g").orderBy("v", "id")))
        .select(col("id"), col("rn").cast("long").as("rn"))
        .as[(Long, Long)].collect().toMap
      val two = graft.operators.Ranks.rowNumber(df, Seq("g"),
          expr(s"v div $width"), Seq(col("v"), col("id")), "rn")
        .select(col("id"), col("rn").cast("long").as("rn"))
        .as[(Long, Long)].collect().toMap
      assert(two === naive,
        s"case $caseIdx groups=$nGroups n=$n vRange=$vRange width=$width")
    }
  }

  test("PROPERTY pagerank: the one-task path returns the round loop's rows (random graphs)") {
    // Seeded random edge lists with duplicate edges, self-loops, null
    // src/dst and null w, over string and long node ids; every
    // (iterations, dampingMilli) pair in {1, 10} x {0, 850, 1000}; plus the
    // empty graph and one with negative weights (truncation toward zero).
    import graft.operators.Clusters
    val rnd = freshRandom(8)
    def some(p: Int, v: Int): Option[Int] =
      if (rnd.nextInt(100) < p) None else Some(v)
    type Edges = Seq[(Option[Int], Option[Int], Option[Long])]
    def frame(g: Edges, stringIds: Boolean) =
      if (stringIds) g.map { case (a, b, w) =>
        (a.map(i => s"n$i"), b.map(i => s"n$i"), w) }.toDF("src", "dst", "w")
      else g.map { case (a, b, w) =>
        (a.map(_.toLong), b.map(_.toLong), w) }.toDF("src", "dst", "w")
    val random = for ((it, d) <- Seq(1, 10).flatMap(i =>
        Seq(0, 850, 1000).map(i -> _))) yield {
      val n = 2 + rnd.nextInt(7)
      val g = Seq.fill(rnd.nextInt(20)) {
        (some(10, rnd.nextInt(n)), some(10, rnd.nextInt(n)),
          some(10, 1 + rnd.nextInt(9)).map(_.toLong))
      }
      (g ++ g.take(rnd.nextInt(4)), it, d) // explicit duplicates
    }
    val fixed = Seq[(Edges, Int, Int)]((Seq.empty, 10, 850),
      (Seq((Some(0), Some(1), Some(5L)), (Some(0), Some(2), Some(-2L)),
        (Some(1), Some(0), Some(-1L)), (Some(1), Some(2), Some(4L)),
        (Some(2), Some(2), Some(1L))), 10, 850))
    for (((g, it, d), caseIdx) <- (random ++ fixed).zipWithIndex;
         stringIds <- Seq(true, false)) {
      val e = frame(g, stringIds)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.sortBy(_.toString)
      val one = rows(Clusters.pageRankOneTask(e, it, d).get)
      val loop = rows(Clusters.pageRankRounds(e, it, d))
      assert(one === loop,
        s"case $caseIdx stringIds=$stringIds iterations=$it damping=$d: $g")
    }
  }

  test("pagerank: a zero out-weight throws on both paths, returning no rows") {
    import graft.operators.Clusters
    // a's weights sum to 0: (r·w) div ow divides by zero under ANSI
    val e = Seq(("a", "b", 2L), ("a", "c", -2L), ("b", "a", 1L))
      .toDF("src", "dst", "w")
    intercept[Exception](Clusters.pageRankOneTask(e, 10, 850).get.collect())
    intercept[Exception](Clusters.pageRankRounds(e, 10, 850).collect())
    intercept[Exception](Clusters.pageRankWeighted(e, "src", "dst", "w")
      .collect())
  }

  test("PROPERTY shingle hashes: the kernel returns the formula's values in order (random texts)") {
    // Seeded random texts: null, empty, one- and two-token rows, leading,
    // doubled and trailing spaces, non-ASCII words (a surrogate pair too),
    // shingles repeated inside a text; plus invalid UTF-8, which `split`
    // decodes to U+FFFD. For n = 1..4 the kernel equals
    // transform(array_distinct(wordShingles(text, n)), xxhash64), value for
    // value and in order.
    import graft.functions.TextFunctions
    import graft.operators.Dedup
    val rnd = freshRandom(10)
    val vocab = IndexedSeq("a", "b", "c", "é", "日本", "straße",
      "\uD834\uDD1E", "a", "b", "") // "" joins as a double or edge space
    def text(): Option[String] = rnd.nextInt(8) match {
      case 0 => None
      case 1 => Some("")
      case 2 => Some(randTokens(rnd, 1, vocab).mkString(" "))
      case 3 => Some(randTokens(rnd, 2, vocab).mkString(" "))
      case _ => Some(randTokens(rnd, 3 + rnd.nextInt(20), vocab).mkString(" "))
    }
    // a lone 0xFF, a truncated sequence, an encoded surrogate, a lone
    // continuation byte — each beside spaces and repeats
    val invalid = Seq("61FF2062", "FF20FF20FF2061", "E282", "2061E28220E282",
      "EDA08020EDA080", "80206120802061")
      .toDF("h").select(expr("cast(unhex(h) as string)").as("text"))
    val texts = Seq.fill(300)(text()).toDF("text").union(invalid)
    def formula(text: org.apache.spark.sql.Column, n: Int) =
      transform(array_distinct(TextFunctions.wordShingles(text, n)),
        s => xxhash64(s))
    for (n <- 1 to 4) {
      val got = texts.select(col("text"),
          TextFunctions.shingleHashes(col("text"), n).as("kernel"),
          formula(col("text"), n).as("formula"))
        .as[(Option[String], Seq[Long], Seq[Long])].collect()
      for ((t, kernel, want) <- got) assert(kernel === want, s"n=$n text=$t")
      assert(got.exists(_._3.nonEmpty), s"n=$n")
    }
    // collated text compares and hashes by its collation: shingleKeys
    // keeps the formula for it
    val docs = Seq((1L, "A b a B a b"), (2L, "x Y x y")).toDF("doc_id", "text")
      .select(col("doc_id"), collate(col("text"), "UTF8_LCASE").as("text"))
    for (n <- 1 to 2) {
      val keys = Dedup.shingleKeys(docs, "text", "doc_id", n)
        .orderBy("doc").select("gs").as[Seq[Long]].collect().toSeq
      val want = docs.orderBy("doc_id").select(formula(col("text"), n))
        .as[Seq[Long]].collect().toSeq
      assert(keys === want, s"collated n=$n")
    }
  }

  test("PROPERTY pair tails: the kernel's value is the SQL tail's double, and it emits what the tail keeps") {
    // Random counts (small, mid-sized and above 2^53, where the long to
    // double casts round) with i ≤ max(ca, cb), plus i > max(ca, cb) with
    // a non-zero Jaccard denominator (positive or negative), plus pairs
    // whose value lands exactly on a threshold.
    import graft.operators.PairCounts.PairTail
    val rnd = freshRandom(11)
    def count(): Long = rnd.nextInt(3) match {
      case 0 => 1L + rnd.nextInt(8)
      case 1 => 1L + rnd.nextInt(100000)
      case _ => 1L + (rnd.nextLong() >>> 4)
    }
    def below(m: Long): Long = 1L + (rnd.nextLong() >>> 1) % m
    val random = Seq.fill(3000) {
      val (ca, cb) = (count(), count())
      val i = if (rnd.nextInt(5) > 0) below(math.max(ca, cb))
        else math.max(ca, cb) + below(ca + cb) // from max + 1 to 2·(ca + cb)
      (i, ca, cb)
    }.filter { case (i, ca, cb) => ca + cb != i }
    val edges = Seq((1L, 10L, 11L), (3L, 10L, 10L), (1L, 1L, 1L),
      (5L, 5L, 9L), (9L, 5L, 9L), (1L, 20L, 20L), (3L, 1L, 5L))
    val triples = (edges ++ random).toIndexedSeq
    val pairs = triples.zipWithIndex
      .map { case ((i, ca, cb), a) => (a.toLong, a + 1L, i, ca, cb) }
      .toDF("a_id", "b_id", "i", "ca", "cb")
    val thresholds = Seq(0.0, -0.0, 0.05, 0.3, 1.0, 1.5,
      Double.PositiveInfinity, Double.NaN)
    val bits = java.lang.Double.doubleToRawLongBits _
    var (wayAbove, landed) = (0, 0)
    for (make <- Seq(PairTail.Jaccard(_: Double), PairTail.Containment(_))) {
      val values = pairs.orderBy("a_id")
        .select(make(0.0).column(col("i"), col("ca"), col("cb")))
        .as[Double].collect().toSeq
      for (((i, ca, cb), v) <- triples.zip(values))
        assert(bits(make(0.0).value(i, ca, cb)) === bits(v), (i, ca, cb))
      for (t <- thresholds) {
        val tail = make(t)
        val kept = tail(pairs).select("a_id").as[Long].collect().toSet
        for (((i, ca, cb), a) <- triples.zipWithIndex) {
          val emits = tail.emits(i, ca, cb)
          assert(emits === (kept(a.toLong) || i > math.max(ca, cb)),
            s"$tail ($i, $ca, $cb)")
          if (i > math.max(ca, cb) && !kept(a.toLong)) wayAbove += 1
          if (tail.value(i, ca, cb) == t && kept(a.toLong)) landed += 1
        }
      }
    }
    assert(wayAbove > 0, "no i > max(ca, cb) pair was emitted past the tail")
    assert(landed > 0, "no value landed exactly on a threshold")
  }

  test("PROPERTY shingle pairs: the one-task kernel returns the self-join's rows (random corpora)") {
    // Seeded random corpora with duplicate and null doc ids (long ids, and
    // string ids whose UTF-8 and UTF-16 orders differ); null, empty, one-
    // and two-token texts; double and trailing spaces; shingles repeated
    // inside a document; non-ASCII words. Each runs with n = 1, 2, 3 under
    // a fraction guard that drops the commonest shingles (its cap,
    // ⌈0.25·N⌉ for N = 20..39 rows, moves with every row counted), an
    // absolute maxShingleDf, and no guard; plus the empty corpus and one
    // whose duplicate ids make zero Jaccard denominators. The raw
    // counts compare with the kernel unbounded (a −∞ Jaccard tail emits
    // every counted pair); the public operators then run it at thresholds
    // 0, 0.2, 0.3, 1, 1.5 and NaN, and the support tail (the co-purchase
    // queries' tail) at supports 1, 2 and 3, where duplicate ids make
    // `i` exceed an id's own count. The prefix join (the unguarded Jaccard
    // path above the cap) runs at 0.2, 0.3, 0.5, 0.8 and 1.0, against the
    // same tail over the unguarded join.
    import graft.operators.{Dedup, PairCounts}
    import graft.operators.PairCounts.PairTail
    import org.apache.spark.sql.DataFrame
    val rnd = freshRandom(9)
    val vocab = IndexedSeq("a", "b", "c", "d", "e", "é", "日本", "straße",
      "a", "b", "") // "" joins as a double (or trailing) space
    def text(): Option[String] = rnd.nextInt(10) match {
      case 0 => None
      case 1 => Some("")
      case 2 => Some(randTokens(rnd, 1, vocab).mkString(" "))
      case 3 => Some(randTokens(rnd, 2, vocab).mkString(" "))
      case _ => Some(randTokens(rnd, 3 + rnd.nextInt(10), vocab).mkString(" "))
    }
    val stringIds = IndexedSeq("a", "b", "é", "\uFF21", "\uD834\uDD1E", "日")
    def corpus(strings: Boolean): DataFrame = {
      val docs = Seq.fill(20 + rnd.nextInt(20)) {
        val id = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(15))
        (id, text())
      }
      if (strings) docs.map { case (id, t) =>
        (id.map(i => stringIds(i % stringIds.size) + (i / stringIds.size)), t)
      }.toDF("doc_id", "text")
      else docs.map { case (id, t) => (id.map(_.toLong), t) }
        .toDF("doc_id", "text")
    }
    // duplicate ids 1 and 2 share every shingle twice over: i = ca + cb
    val zeroDenominator = Seq((1L, "a b"), (1L, "a b"), (2L, "a b"),
      (2L, "a b"), (3L, "a b c")).toDF("doc_id", "text")
    val corpora = Seq(corpus(false), corpus(false), corpus(true),
      corpus(true), Seq.empty[(Option[Long], Option[String])]
        .toDF("doc_id", "text"), zeroDenominator)
    val guards = Seq((Long.MaxValue, Some(0.25)), (3L, None),
      (Long.MaxValue, None))
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    // a zero Jaccard denominator (duplicate ids) throws under ANSI: then
    // both paths must throw
    def outcome(df: DataFrame) = scala.util.Try(rows(df)).toOption
    var (guardBit, boundBit, throwBit, prefixBit, aboveBit) =
      (false, false, false, false, false)
    for ((docs, caseIdx) <- corpora.zipWithIndex; n <- 1 to 3) {
      val keys = Dedup.shingleKeys(docs, "text", "doc_id", n)
      for ((maxDf, frac) <- guards) {
        val at = s"corpus $caseIdx n=$n maxShingleDf=$maxDf fraction=$frac"
        val one = PairCounts.pairCountsOneTask(keys, maxDf, frac,
          PairTail.Jaccard(Double.NegativeInfinity)).get
        val join = PairCounts.pairCountsJoin(keys, maxDf, frac)
        val counts = rows(join.select("a_id", "b_id", "i", "ca", "cb"))
        assert(rows(one) === counts, at)
        assert(outcome(PairTail.Jaccard(0.0)(one)) ===
          outcome(PairTail.Jaccard(0.0)(join)), at)
        assert(rows(PairTail.Containment(0.3)(one)) ===
          rows(PairTail.Containment(0.3)(join)), at)
        if (frac.nonEmpty) guardBit ||= counts !=
          rows(PairCounts.pairCountsJoin(keys, Long.MaxValue, None)
            .select("a_id", "b_id", "i", "ca", "cb"))
      }
      // the public operator (dispatching to one task here) agrees too
      assert(outcome(Dedup.ngramJaccardPairs(docs, "text", "doc_id", n, 0.2,
          maxShingleDfFraction = Some(0.25))) ===
        outcome(PairTail.Jaccard(0.2)(PairCounts.pairCountsJoin(keys,
          Long.MaxValue, Some(0.25)))), s"corpus $caseIdx n=$n")
      // so do both public operators (whose one-task kernel emits only the
      // pairs the tail keeps or decides on) against the tails over the
      // join, throws included; unguarded, so duplicate ids keep the keys
      // that make zero Jaccard denominators
      val join = PairCounts.pairCountsJoin(keys, Long.MaxValue, None)
      val unbounded = rows(PairCounts.pairCountsOneTask(keys, Long.MaxValue,
        None, PairTail.Jaccard(Double.NegativeInfinity)).get).toSet
      for (t <- Seq(0.0, 0.2, 0.3, 1.0, 1.5, Double.NaN)) {
        val at = s"corpus $caseIdx n=$n threshold=$t"
        val jaccardJoin = outcome(PairTail.Jaccard(t)(join))
        assert(outcome(Dedup.ngramJaccardPairs(docs, "text", "doc_id", n, t))
          === jaccardJoin, at)
        assert(outcome(Dedup.containmentPairs(docs, "text", "doc_id", n, t))
          === outcome(PairTail.Containment(t)(join)), at)
        throwBit ||= jaccardJoin.isEmpty
        for (tail <- Seq(PairTail.Jaccard(t), PairTail.Containment(t))) {
          val bounded = rows(PairCounts.pairCountsOneTask(keys, Long.MaxValue,
            None, tail).get).toSet
          assert(bounded.subsetOf(unbounded), s"$at $tail")
          boundBit ||= bounded.size < unbounded.size
        }
      }
      for (support <- 1L to 3L) {
        val at = s"corpus $caseIdx n=$n support=$support"
        val tail = PairTail.Support(support)
        val bounded = PairCounts.pairCountsOneTask(keys, Long.MaxValue, None,
          tail).get
        assert(rows(bounded).toSet.subsetOf(unbounded), at)
        assert(rows(tail(bounded)) === rows(tail(join)), at)
        assert(rows(PairCounts(keys, tail)) === rows(tail(join)), at)
        aboveBit ||= rows(tail(join)).exists(r =>
          math.min(r.getLong(3), r.getLong(4)) < support)
      }
      val coShingled = join.count()
      for (t <- Seq(0.2, 0.3, 0.5, 0.8, 1.0)) {
        val prefix = PairCounts.pairCountsPrefix(keys, t)
        assert(outcome(PairTail.Jaccard(t)(prefix)) ===
          outcome(PairTail.Jaccard(t)(join)),
          s"corpus $caseIdx n=$n prefix t=$t")
        prefixBit ||= prefix.count() < coShingled
      }
    }
    assert(guardBit, "the fraction guard never dropped a shingle")
    assert(boundBit, "the pair bound never dropped a pair")
    assert(throwBit, "no zero Jaccard denominator was thrown on")
    assert(prefixBit, "the prefix join never dropped a co-shingled pair")
    assert(aboveBit, "no kept pair had a support above an id's own count")
  }

  test("PROPERTY co-purchase pairs: the operator returns the self-join's rows, both ways (random baskets)") {
    // Seeded random distinct (order, part) tables, long and string parts
    // (string parts whose UTF-8 and UTF-16 orders differ), int and long
    // order keys, a few null parts, baskets of 1 to 6 parts over a small
    // catalogue so that pairs reach support 3. For supports 1, 2 and 3 the
    // operator's pairs, its self-join path's, and their mirror (the
    // queries' both-ways edge lists) equal the hand formula every
    // co-purchase query used to write out: po ⋈ po on o, grouped by
    // (part, part) and counted, with both parts' order counts.
    import graft.operators.PairCounts
    import graft.operators.PairCounts.PairTail
    import graft.queries.CorpusOps
    import org.apache.spark.sql.{Column, DataFrame}
    val rnd = freshRandom(12)
    val stringParts = IndexedSeq("a", "b", "é", "\uFF21", "\uD834\uDD1E", "日")
    def baskets(strings: Boolean, intOrders: Boolean): DataFrame = {
      val parts = 6 + rnd.nextInt(10)
      val rows = (0 until 20 + rnd.nextInt(30)).flatMap { o =>
        Seq.fill(1 + rnd.nextInt(6)) {
          if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(parts))
        }.distinct.map(p => (o, p))
      }
      val po = if (strings) rows.map { case (o, p) =>
        (o.toLong, p.map(i => stringParts(i % stringParts.size) +
          (i / stringParts.size)))
      }.toDF("o", "p")
      else rows.map { case (o, p) => (o.toLong, p.map(_.toLong)) }
        .toDF("o", "p")
      if (intOrders) po.withColumn("o", col("o").cast("int")) else po
    }
    def reference(po: DataFrame, support: Long,
        pair: (Column, Column) => Column): DataFrame = {
      val n = po.groupBy("p").agg(count(lit(1)).as("c"))
      po.as("a").join(po.as("b"),
          col("a.o") === col("b.o") && pair(col("a.p"), col("b.p")))
        .groupBy(col("a.p").as("a_id"), col("b.p").as("b_id"))
        .agg(count(lit(1)).as("i"))
        .filter(col("i") >= support)
        .join(n.select(col("p").as("a_id"), col("c").as("ca")), "a_id")
        .join(n.select(col("p").as("b_id"), col("c").as("cb")), "b_id")
        .select("a_id", "b_id", "i", "ca", "cb")
    }
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    var supportBit = false
    for (((strings, intOrders), caseIdx) <- Seq((false, false),
        (false, true), (false, false), (true, false), (true, true),
        (true, false)).zipWithIndex) {
      val po = baskets(strings, intOrders)
      val keys = PairCounts.oneKeyPerRow(po, "p", "o")
      for (support <- 1L to 3L) {
        val at = s"table $caseIdx support=$support"
        val pairs = CorpusOps.coPurchase(po, support)
        val want = rows(reference(po, support, _ < _))
        assert(rows(pairs) === want, at)
        assert(rows(PairTail.Support(support)(
          PairCounts.pairCountsJoin(keys, Long.MaxValue, None))) === want, at)
        assert(rows(PairCounts.bothWays(pairs)) ===
          rows(reference(po, support, _ =!= _)), at)
        supportBit ||= support == 3 && want.nonEmpty
      }
    }
    assert(supportBit, "no pair reached support 3")
  }

  test("PROPERTY transitions: the one-task kernel returns the window plan's rows (random event logs)") {
    // Seeded random event logs over long and string user ids, spread over 3
    // partitions in shuffled order: null users, null ts and null event ids
    // (both sort first), equal ts with distinct ids, null states (as the
    // current event and as a predecessor), negative ts, single-event users;
    // plus a fixed log holding each of those and the empty log. Depth 1
    // and 2; rows compare as multisets.
    import graft.operators.Temporal
    import org.apache.spark.sql.DataFrame
    val rnd = freshRandom(10)
    type Log = Seq[(Option[Int], Option[Long], Option[Long], Option[String])]
    val types = IndexedSeq("view", "click", "cart", "buy")
    def some[T](p: Int, v: => T): Option[T] =
      if (rnd.nextInt(100) < p) None else Some(v)
    val random: Seq[Log] = Seq.fill(10) {
      val nUsers = 1 + rnd.nextInt(8)
      Seq.fill(rnd.nextInt(40)) {
        (some(8, rnd.nextInt(nUsers)), some(10, (rnd.nextInt(9) - 4) * 1000000L),
          some(10, rnd.nextInt(30).toLong), some(12, types(rnd.nextInt(4))))
      }
    }
    val fixed: Log = Seq(
      (Some(1), Some(5L), Some(1L), Some("view")),
      (Some(1), None, Some(9L), Some("cart")), // null ts sorts first
      (Some(1), Some(5L), None, Some("buy")), // null id first among ts 5
      (Some(1), Some(5L), Some(0L), Some("click")), // equal ts, distinct id
      (Some(1), Some(7L), Some(2L), None), // null state, then as predecessor
      (Some(1), Some(8L), Some(3L), Some("view")),
      (None, Some(2L), Some(4L), Some("view")), // the null user
      (None, Some(1L), Some(5L), Some("click")),
      (None, None, None, Some("buy")),
      (Some(2), Some(3L), Some(6L), Some("cart")), // single-event users
      (Some(3), None, None, None))
    // a tie on (user, ts, id) orders arbitrarily in the window plan too
    val logs = (random :+ fixed :+ Seq.empty)
      .map(_.distinctBy { case (u, t, i, _) => (u, t, i) })
    def frame(log: Log, stringUsers: Boolean): DataFrame = {
      val shuffled = rnd.shuffle(log)
      val raw = if (stringUsers) shuffled.map { case (u, t, i, st) =>
          (u.map(x => s"u$x"), t, i, st) }.toDF("user_id", "t", "event_id", "event_type")
        else shuffled.map { case (u, t, i, st) =>
          (u.map(_.toLong), t, i, st) }.toDF("user_id", "t", "event_id", "event_type")
      raw.select(col("user_id"), expr("timestamp_micros(t)").as("ts"),
          col("event_id"), col("event_type"))
        .repartition(3)
    }
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    for ((log, caseIdx) <- logs.zipWithIndex; stringUsers <- Seq(false, true);
         depth <- 1 to 2) {
      val at = s"case $caseIdx stringUsers=$stringUsers depth=$depth: $log"
      val events = frame(log, stringUsers)
      val window = rows(Temporal.transitionsWindow(events, "user_id", "ts",
        "event_id", "event_type", depth))
      val keys = Temporal.oneTaskKeys(events, "user_id", "ts", "event_id",
        "event_type")
      assert(keys.nonEmpty, at)
      assert(rows(Temporal.transitionsOneTask(keys.get, depth).get) === window,
        at)
      assert(rows(Temporal.transitions(events, "user_id", "ts", "event_id",
        "event_type", depth)) === window, at)
    }
  }
}
