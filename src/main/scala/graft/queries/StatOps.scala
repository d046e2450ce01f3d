package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{SketchFunctions, TextFunctions => T}
import graft.operators.{LmScore, Signals, Vocab}

/** Round-5 corpus-statistics operators: bigram language-model scoring, PMI
  * co-occurrence (the embedding-training counting step), hashed-feature
  * linear classification, character-entropy screening, deterministic
  * weighted sampling, and sketch-based heavy hitters. Oracle discipline as
  * everywhere: integer micro-unit quantization before aggregates/ranks, the
  * cross-engine FNV-1a-32 expression as the only "randomness", total-order
  * sorts.
  */
object StatOps extends QueryFamily {

  /** q_bigram_lm — per-document bigram cross-entropy (micro-nats) under the
    * corpus's own conditional bigram MLE, top-500 bigram lookup, OOV floored
    * at 1/total: the KenLM-shaped upgrade of q_unigram_lm. */
  def qBigramLm(s: SparkSession, dir: String): DataFrame =
    LmScore.bigramCrossEntropy(Tables.documents(s, dir), "text", "doc_id",
        vocabSize = 500)
      .orderBy("doc_id")

  /** q_kn_bigram — per-document cross-entropy under a KNESER–NEY smoothed
    * bigram LM trained on the doc_id % 10 == 0 REFERENCE slice: the
    * in-domain perplexity filter (score everything under a small trusted
    * LM, keep what it finds predictable). The train/score split makes
    * unseen events the normal case — exactly what KN continuation mass
    * handles; see [[graft.operators.LmScore.knBigramCrossEntropy]]. */
  def qKnBigram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    LmScore.knBigramCrossEntropy(docs.select("doc_id", "text"),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id")
      .orderBy("doc_id")
  }

  /** q_cooccur_pmi — top-100 PMI token pairs within a ±2 window, min pair
    * count 5: the co-occurrence statistics GloVe/word2vec training reads. */
  def qCooccurPmi(s: SparkSession, dir: String): DataFrame =
    Vocab.pmiPairs(Tables.documents(s, dir), "text", window = 2,
      minCount = 5L, topK = 100)

  /** q_ols — per-returnflag OLS regression of price-cents on quantity
    * (slope ≈ unit price, intercept, r²): the prescriptive step past
    * q_corr's "are they related" — one pass of exact DECIMAL(38,0)
    * moments, closed forms in mirrored doubles, fixed-unit floors.
    * See [[graft.operators.Profile.olsByGroup]]. */
  def qOls(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.olsByGroup(Tables.lineitem(s, dir),
        "l_returnflag", expr("CAST(l_quantity AS BIGINT)"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .orderBy("l_returnflag")

  /** q_textrank — TextRank keyword extraction (Mihalcea & Tarau 2004):
    * PageRank over the token-adjacency co-occurrence graph, top 50 by
    * stationary rank. Builds the undirected graph from adjacent-token
    * pairs (count ≥ 3 prune — the graph is VOCABULARY-bounded, not
    * corpus-bounded, before any iteration), then runs the integer-exact
    * [[graft.operators.Clusters.pageRankWeighted]] loop: the
    * graph-centrality upgrade of raw-frequency keywords (a token ranks
    * high when its NEIGHBOURS are central, not merely when it is
    * frequent). One corpus explode + pair count; 10 rounds on the
    * bounded token graph (in one task while it has at most 4M edges). */
  def qTextrank(s: SparkSession, dir: String): DataFrame = {
    val ws = T.tokens(col("text"))
    val adj = when(size(ws) > 1,
        transform(
          arrays_zip(
            slice(ws, lit(1), size(ws) - 1).as("x"),
            slice(ws, lit(2), size(ws) - 1).as("y")),
          p => struct(
            least(p.getField("x"), p.getField("y")).as("lo"),
            greatest(p.getField("x"), p.getField("y")).as("hi"))))
      .otherwise(array().cast("array<struct<lo:string,hi:string>>"))
    // Tables.parallel MEASURED AND REJECTED here (optimization r15):
    // paired A/B median 1.10x (0.89–1.18) — the adjacency explode
    // collapses straight into the (lo, hi) count shuffle, and the
    // pagerank rounds dominate; the extra exchange buys nothing.
    val pc = Tables.documents(s, dir)
      .select(explode(adj).as("p"))
      .select(col("p.lo").as("lo"), col("p.hi").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .groupBy("lo", "hi").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 3)
      .localCheckpoint(eager = false) // read twice: both edge directions
    val edges = pc.select(col("lo").as("src"), col("hi").as("dst"),
        col("c").as("w"))
      .unionAll(pc.select(col("hi").as("src"), col("lo").as("dst"),
        col("c").as("w")))
    graft.operators.Clusters.pageRankWeighted(edges, "src", "dst", "w",
        iterations = 10)
      .select(col("node").as("token"), col("rank_micro"))
      .orderBy(desc("rank_micro"), col("token"))
      .limit(50)
  }

  /** q_classify_linear — hashed-feature (64-bucket FNV) linear scorer with
    * a broadcast weight table: the fastText-style model-based quality
    * filter's plan shape, integer-exact end to end. */
  def qClassifyLinear(s: SparkSession, dir: String): DataFrame =
    Signals.linearScore(Tables.documents(s, dir), "text", "doc_id",
        nBuckets = 64)
      .orderBy("doc_id")

  /** q_ece — Expected Calibration Error of the q_classify_linear scorer
    * against the lang = 'en' outcome: confidence = milli-rounded logistic
    * of the hashed-linear score, 10 equal-width bins, per-bin mean
    * confidence vs empirical rate, ECE = n-weighted mean absolute gap —
    * the eval that gates "use this score as a sampling weight" (an
    * uncalibrated quality scorer silently distorts the mixture; a random
    * hash scorer, as here, should read as flat-rate miscalibration — the
    * diagnostic working as intended). See
    * [[graft.operators.Signals.calibration]]. */
  def qEce(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = Signals.linearScore(docs, "text", "doc_id", nBuckets = 64)
      .join(docs.select(col("doc_id"), (col("lang") === "en").as("y")),
        "doc_id")
      // temperature 0.1: the hashed scores live within ~±0.1 of zero, so
      // the raw logistic collapses into two bins — the steeper link
      // spreads confidence across the bin range the diagnostic needs
      .withColumn("conf_milli",
        round(lit(1000.0) / (lit(1.0) +
          exp(-col("score_micro").cast("double") / 1e5)), 0).cast("long"))
    Signals.calibration(scored, col("conf_milli"), col("y"))
      .orderBy("bin")
  }

  /** q_char_entropy — per-document character-distribution Shannon entropy
    * (micro-nats) + distinct-char count: the cheap gibberish screen. */
  def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    Signals.charEntropy(Tables.documents(s, dir), "text", "doc_id")
      .orderBy("doc_id")

  /** q_sample_weighted — 50-document weighted sample without replacement
    * (Efraimidis–Spirakis keys, weight = n_chars), content-hash
    * deterministic so the sample is reproducible and cross-engine exact. */
  def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    Signals.weightedSample(Tables.documents(s, dir), "text", "doc_id",
        col("n_chars"), k = 50)
      .select("doc_id", "source", "w", "key_nano")
      .orderBy(desc("key_nano"), col("doc_id"))

  /** q_heavy_hitters — exact heavy hitters (tokens with frequency >
    * total/29) via the two-pass sketch pattern: one Misra–Gries pass yields
    * a ≤29-entry candidate list whose completeness is GUARANTEED regardless
    * of partitioning/merge order; an exact recount of candidates only (the
    * corpus stream is semi-joined against the broadcast candidate list)
    * yields the final answer, which is therefore deterministic and fully
    * oracle-checkable even though sketch counters themselves are not. The
    * capacity (29) is deliberately SMALLER than this corpus's distinct-token
    * count, so the sketch genuinely evicts. */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(T.tokens(col("text"))).as("tok"))
      .localCheckpoint(eager = false)
    val cands = toks
      .agg(SketchFunctions.misraGriesCandidates(col("tok"), 29).as("cands"))
      .select(explode(col("cands")).as("tok"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * 29 > col("total"))
      .select(col("tok"), col("cnt"))
      .orderBy(desc("cnt"), asc("tok"))
  }

  /** q_keyness — Dunning G² log-likelihood keyness: per source, the top-20
    * tokens most over-represented against the rest of the corpus (the
    * corpus-comparison statistic behind source drift and domain-signature
    * monitoring). */
  def qKeyness(s: SparkSession, dir: String): DataFrame =
    Vocab.keyness(Tables.documents(s, dir), "text", "source",
        topK = 20, minCount = 5L)
      .orderBy("source", "rnk")

  /** q_decontaminate_bloom — decontamination through a Bloom gate: the eval
    * 5-gram set broadcasts as a ~1.2-byte/item sketch instead of the set
    * itself; probe survivors are verified EXACTLY, so the output is
    * bit-identical to a plain exact decontamination (the oracle is exactly
    * that) — no false negatives by construction, false positives killed by
    * the verify join. The scale path when the benchmark union outgrows an
    * exact broadcast. */
  def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 40 =!= 0)
    val contaminated = graft.operators.Decontaminate
      .contaminatedIdsBloom(train, docs.filter(col("doc_id") % 40 === 0),
        "text", "doc_id", n = 5)
      .withColumn("contaminated", lit(true))
    train.join(broadcast(contaminated), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  /** q_novelty — per-document 3-gram novelty against the doc_id % 25 == 0
    * reference slice: how much of each remaining document is already-seen
    * text (novelty_micro = ⌊(1 − known/total)·10⁶⌋). */
  def qNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Decontaminate.noveltyStats(
        docs.filter(col("doc_id") % 25 =!= 0),
        docs.filter(col("doc_id") % 25 === 0),
        "text", "doc_id", n = 3)
      .orderBy("doc_id")
  }

  /** q_mannwhitney — Mann–Whitney U rank-sum test of each event_type's
    * `value` distribution against the 'view' baseline (the nonparametric
    * two-sample location test — the A/B readout that needs no normality
    * assumption). Computed WITHOUT a global rank: values quantize to exact
    * cents, counts aggregate per (group, cents) with map-side partials,
    * and U comes from the identity 2U = Σ_v a_v·(2·cumB(<v) + b_v) over
    * the DISTINCT-value table — the window partition is value-DOMAIN
    * bounded (≤ 50k cent values here), never corpus-sized, so the same
    * plan ranks a trillion events. All sums are DECIMAL(38,0)
    * (order-immune); the tie-corrected z is one mirrored double
    * expression over exact integer moments, milli-rounded. */
  /** Shared rank-moment table for the q_mannwhitney / q_cliffs_delta
    * pair: per non-view event type vs the "view" baseline, exact
    * (n1, n2, u2 = 2·U with ties as halves, tsum = Σ t³−t) from the
    * value HISTOGRAM (never row-level ranks) — one definition so the
    * test statistic and its effect size cannot drift apart. */
  private def rankMoments(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_type").as("g"),
      round(col("value") * 100).cast("long").as("v"))
    val b = ev.filter(col("g") === "view").groupBy("v")
      .agg(count(lit(1)).as("b"))
    val a = ev.filter(col("g") =!= "view").groupBy("g", "v")
      .agg(count(lit(1)).as("a"))
    val u = a.select(col("g"), col("v"), col("a"), lit(0L).as("b"))
      .unionAll(b.crossJoin(broadcast(a.select("g").distinct()))
        .select(col("g"), col("v"), lit(0L).as("a"), col("b")))
      .groupBy("g", "v").agg(sum("a").as("a"), sum("b").as("b"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy("v").rowsBetween(Long.MinValue, -1)
    u.withColumn("cumb", coalesce(sum("b").over(w), lit(0L)))
      .withColumn("t", col("a") + col("b"))
      .groupBy("g").agg(
        sum("a").as("n1"), sum("b").as("n2"),
        sum((col("a").cast("decimal(38,0)") *
          (col("cumb") * 2 + col("b"))).cast("decimal(38,0)")).as("u2"),
        sum((col("t").cast("decimal(38,0)") * col("t") * col("t") -
          col("t")).cast("decimal(38,0)")).as("tsum"))
  }

  def qMannwhitney(s: SparkSession, dir: String): DataFrame = {
    val m = rankMoments(s, dir)
    m.select(col("g").as("event_type"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("u2").cast("long").as("u2"),
        when(col("n1") > 0 && col("n2") > 0 && col("n1") + col("n2") > 1,
          floor((col("u2").cast("double") -
              col("n1").cast("double") * col("n2").cast("double")) /
            sqrt(col("n1").cast("double") * col("n2").cast("double") *
              ((col("n1") + col("n2") + 1).cast("double") -
                col("tsum").cast("double") /
                  ((col("n1") + col("n2")).cast("double") *
                    (col("n1") + col("n2") - 1))) / 3.0)
            * 1000 + 0.5).cast("long")).as("z_milli"))
      .orderBy("event_type")
  }

  /** q_cliffs_delta — Cliff's delta effect size for each event type vs
    * the "view" baseline: δ = P(x > y) − P(x < y) = 2U/(n1·n2) − 1, the
    * nonparametric magnitude companion to q_mannwhitney's significance z
    * (a huge sample makes a trivial shift "significant"; δ says whether
    * it MATTERS). Built on the same [[rankMoments]] histogram table —
    * u2 = 2·U with ties as halves, so δ = (u2 − n1·n2)/(n1·n2) exactly.
    * The magnitude class uses the standard |δ| cutoffs (0.147 / 0.33 /
    * 0.474, Romano et al. 2006) compared in EXACT integer arithmetic
    * (|u2 − n1n2|·1000 vs cutoff·n1n2 in DECIMAL(38,0)/HUGEINT — no
    * float ever decides a class); δ itself is the one mirrored IEEE
    * divide of two identical exact integers (the q_ndcg discipline). */
  def qCliffsDelta(s: SparkSession, dir: String): DataFrame =
    rankMoments(s, dir).select(col("g").as("event_type"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        col("u2").cast("long").as("u2"),
        expr("CAST(u2 - n1 * n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)")
          .as("delta"),
        expr("CASE WHEN abs(CAST(u2 AS DECIMAL(38,0)) - n1 * n2) * 1000 " +
          "< 147 * CAST(n1 AS DECIMAL(38,0)) * n2 THEN 'negligible' " +
          "WHEN abs(CAST(u2 AS DECIMAL(38,0)) - n1 * n2) * 1000 " +
          "< 330 * CAST(n1 AS DECIMAL(38,0)) * n2 THEN 'small' " +
          "WHEN abs(CAST(u2 AS DECIMAL(38,0)) - n1 * n2) * 1000 " +
          "< 474 * CAST(n1 AS DECIMAL(38,0)) * n2 THEN 'medium' " +
          "ELSE 'large' END").as("magnitude"))
      .orderBy("event_type")

  /** q_hill_tail — Hill estimator of the document-length tail index
    * (Hill 1975): over the k = 100 longest documents,
    * α⁻¹ = mean ln(x_i / x_(k+1)) — the heavy-tail exponent that decides
    * sequence-packing bin sizes and length-bucket boundaries (a Pareto
    * tail with α ≤ 1 has no mean; chunking policy must know). Complements
    * `q_zipf_slope`, which regresses the FREQUENCY rank curve; Hill
    * measures the LENGTH distribution's upper tail from order statistics
    * alone. Scale shape: the only corpus-sized step is one
    * TakeOrdered(k+1) (no global sort materializes); the window and sums
    * run on the 101-row frame. ln is pre-rounded to integer micro per
    * row (the keyness idiom, identical in the oracle), so the mean and
    * the final α are exact integer arithmetic. */
  def qHillTail(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n_chars"), asc("doc_id")) // bounded: k+1 rows
    val ranked = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      .orderBy(desc("n_chars"), asc("doc_id")).limit(k + 1)
      .withColumn("rn", row_number().over(w))
      .withColumn("lmu", expr(
        "CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)"))
    val anchor = ranked.filter(col("rn") === k + 1)
      .select(col("n_chars").as("x_kplus1"), col("lmu").as("lk1"))
    ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(anchor))
      .agg(max("x_kplus1").as("x_kplus1"),
        sum(col("lmu") - col("lk1")).as("sum_excess_micro"))
      .select(lit(k.toLong).as("k"), col("x_kplus1"),
        col("sum_excess_micro"),
        expr(s"sum_excess_micro div $k").as("alpha_inv_micro"),
        expr(s"CASE WHEN sum_excess_micro > 0 THEN " +
          s"(CAST($k AS BIGINT) * 1000000000) div sum_excess_micro END")
          .as("alpha_milli"))
  }

  /** q_benford — Benford first-significant-digit audit of order totals
    * (the classic fabricated-numbers screen). The digit comes from integer
    * cents via string head — no logs, no float thresholds — so the digit
    * assignment is exact cross-engine; expected shares are the literal
    * Benford permilles, and the χ² is summed from PER-DIGIT pre-rounded
    * micro terms (integer sum of 9 rounded terms — order-immune by
    * construction). One map-side-partial digit count; everything after is
    * a 9-row broadcast. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val digits = Tables.orders(s, dir).filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
    val o = digits.groupBy("digit").agg(count(lit(1)).as("n0"))
    val exp = Seq(1L -> 301L, 2L -> 176L, 3L -> 125L, 4L -> 97L, 5L -> 79L,
        6L -> 67L, 7L -> 58L, 8L -> 51L, 9L -> 46L)
      .toDF("digit", "exp_permille")
    val total = o.agg(sum("n0").as("total"))
    // 9-row frame: the global window below is bounded at 9 rows forever.
    val r = broadcast(exp).join(o, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n0"), lit(0L)).as("n"),
        col("exp_permille"), col("total"))
      .withColumn("share_permille", expr("(1000 * n) div total"))
      .withColumn("term_micro",
        round((col("n") - col("total") * col("exp_permille") / 1000.0) *
          (col("n") - col("total") * col("exp_permille") / 1000.0) /
          (col("total") * col("exp_permille") / 1000.0) * 1000000)
          .cast("long"))
    r.select(col("digit"), col("n"), col("share_permille"),
        col("exp_permille"),
        (col("share_permille") - col("exp_permille")).as("dev_permille"),
        col("term_micro"),
        sum("term_micro").over(
          org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("long").as("chi2_micro"))
      .orderBy("digit")
  }

  /** q_cms_topk — Count-Min sketch (Cormode & Muthukrishnan 2005)
    * frequency estimation: d=3 rows × w=16 counters, hashes from the
    * md5-hex-digit family every digest oracle uses (engine-independent,
    * so the WHOLE sketch — build and probe — is DuckDB-checkable). The
    * width is deliberately SMALLER than this corpus's vocabulary so the
    * sketch genuinely collides; est ≥ exact always, and min-of-3-rows is
    * visibly tighter than any single row. The counter table is a BOUNDED
    * aggregate (d·w = 48 cells, map-side partials); candidates (exact
    * top-20) probe it via a 48-row broadcast — the plan shape is one
    * corpus scan + bounded joins at any scale. */
  def qCmsTopk(s: SparkSession, dir: String): DataFrame = {
    // Tables.parallel (guide §2.5): tokenize + explode + 3 md5 bucket
    // hashes per token ride the scan stage; counts and (cnt, tok)-ordered
    // picks are order-immune.
    val toks = Tables.parallel(Tables.documents(s, dir))
      .select(explode(T.tokens(col("text"))).as("tok"))
      .localCheckpoint(eager = false) // read twice: counters + exact counts
    def bucket(row: Column, tok: Column): Column =
      (conv(substring(md5(concat(row, lit("|"), tok)), 1, 1), 16, 10)
        .cast("long") % 16).as("bucket")
    val rows = array(lit("0"), lit("1"), lit("2"))
    val counters = toks
      .select(explode(rows).as("r"), col("tok"))
      .select(col("r"), bucket(col("r"), col("tok")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    val cand = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), asc("tok")).limit(20)
    val probe = cand
      .select(col("tok"), col("exact_cnt"), explode(rows).as("r"))
      .select(col("tok"), col("exact_cnt"), col("r"),
        bucket(col("r"), col("tok")))
    probe.join(broadcast(counters), Seq("r", "bucket"))
      .groupBy("tok", "exact_cnt").agg(min("c").as("est_cnt"))
      .select(col("tok"), col("exact_cnt"), col("est_cnt"),
        (col("est_cnt") - col("exact_cnt")).as("over_cnt"))
      .orderBy(desc("exact_cnt"), asc("tok"))
  }

  /** q_corr — pairwise Pearson correlation over lineitem's numeric
    * columns from EXACT integer moments (cent-quantized, DECIMAL(38,0)
    * sums — order-immune where float Σxy is not), final formula in
    * doubles on identical exact operands. One map-side-partial scan for
    * the whole matrix. Full-oracle via the generated HUGEINT mirror. */
  def qCorr(s: SparkSession, dir: String): DataFrame =
    // Tables.parallel: the 15-accumulator moment pass is scan-stage work on
    // a one-row-group file — single-threaded without the repair (measured
    // 6.6 s -> 2.2 s solo, guide §2.5); the moments are exact decimals, so
    // the output is a pure function of the input multiset (order-immune).
    graft.operators.Profile.corrMatrix(
        Tables.parallel(Tables.lineitem(s, dir)),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("col_x", "col_y")

  /** q_kmv_distinct — KMV (k-minimum-values, Bar-Yossef et al. 2002)
    * distinct-count sketch, FULLY oracle-checked: unlike HLL
    * (q_agg_approx, engine-local by design) the KMV estimator is built
    * from the md5 hash family, so build AND estimate reproduce in DuckDB
    * bit-for-bit. Per event type: hash distinct users into [0, 2⁴⁸), take
    * the k=32nd smallest distinct hash h_k, estimate
    * (k−1)·2⁴⁸ div h_k — pure integer arithmetic end to end, no float
    * anywhere. Reports exact distinct beside the estimate with the
    * permille ratio, so the sketch's error is itself part of the checked
    * output. Shape: one distinct-pairs aggregate + a k-bounded window. */
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val hv = Tables.events(s, dir)
      .select(col("event_type").as("g"), col("user_id"))
      .distinct()
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .select("g", "h").distinct() // KMV is over distinct hash VALUES
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
      .orderBy("h")
    val kth = hv.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .select(col("g"), col("h").as("h_k"))
    val exact = Tables.events(s, dir)
      .groupBy(col("event_type").as("g"))
      .agg(countDistinct("user_id").as("n_exact"))
    exact.join(kth, Seq("g"), "left")
      .select(col("g").as("event_type"), col("n_exact"),
        col("h_k"),
        when(col("h_k").isNotNull,
          expr(s"(CAST(${k - 1} AS BIGINT) * ${1L << 48}) div h_k"))
          .as("n_est"),
        when(col("h_k").isNotNull, expr(
          s"(1000 * ((CAST(${k - 1} AS BIGINT) * ${1L << 48}) div h_k)) " +
            "div n_exact")).as("est_permille"))
      .orderBy("event_type")
  }

  /** q_spearman — Spearman rank correlation (quantity vs. price) per
    * returnflag: the monotone-association twin of q_corr's Pearson, robust
    * to the price column's heavy tail. Doubled average ranks keep ties
    * exact in integers; see [[graft.operators.Profile.spearmanByGroup]]. */
  def qSpearman(s: SparkSession, dir: String): DataFrame =
    // Tables.parallel MEASURED AND REJECTED here (optimization r14): the
    // pipeline is dominated by the rank-join shuffles, not the scan, and
    // the extra exchange cost 1.4x in the paired A/B.
    graft.operators.Profile.spearmanByGroup(Tables.lineitem(s, dir),
        "l_returnflag", expr("CAST(l_quantity AS BIGINT)"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumnRenamed("g", "l_returnflag")
      .orderBy("l_returnflag")

  /** q_kendall — Kendall τ-b (quantity vs. $10k price bucket) per
    * returnflag over the QUANTIZED contingency grid: concordance counted
    * over bounded cells, never row pairs — the τ that still runs at 100 TB.
    * See [[graft.operators.Profile.kendallTauCells]]. */
  def qKendall(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.kendallTauCells(Tables.lineitem(s, dir),
        "l_returnflag", expr("CAST(l_quantity AS BIGINT)"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 1000000"))
      .withColumnRenamed("g", "l_returnflag")
      .orderBy("l_returnflag")

  /** q_cramers_v — Cramér's V effect size for order priority × status:
    * the normalized "does it matter" number over q_chi2_indep's raw χ².
    * See [[graft.operators.Profile.cramersV]]. */
  def qCramersV(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.cramersV(Tables.orders(s, dir),
      "o_orderpriority", "o_orderstatus")

  /** q_mutual_info — mutual information event_type × ISO weekday in
    * micro-nats with per-cell pointwise MI: the information-theoretic
    * "how much does the weekday tell you about the event mix" beside
    * q_seasonality's χ² and q_cramers_v's effect size — and the
    * feature-selection score a training pipeline ranks categorical
    * features by. See [[graft.operators.Profile.mutualInfo]]. */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.mutualInfo(
      Tables.events(s, dir)
        .select(col("event_type"), (weekday(col("ts")) + 1).as("dow")),
      "event_type", "dow")

  /** q_anova — one-way ANOVA F of event value (cents) across event types:
    * the k-group generalization of q_mannwhitney's two-sample test, from
    * pre-rounded per-group SSB/SSW micro terms.
    * See [[graft.operators.Profile.anovaF]]. */
  def qAnova(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.anovaF(Tables.events(s, dir), "event_type",
      expr("CAST(round(value * 100) AS BIGINT)"))

  /** q_subsample_ci — deterministic half-subsampling confidence band
    * (Politis & Romano 1994, the m-out-of-n subsampling bootstrap) for
    * the per-returnflag MEDIAN line-item price — the resampling-inference
    * primitive the suite's point estimates lack: every statistic so far
    * reports a value, this one reports how much that value moves under
    * resampling. B = 16 replicates; row r enters replicate b iff hex
    * digit b+1 of md5("ok|ln") < '8' — 16 independent exact fair coins
    * from ONE md5 per row (measured: a per-(row, b) md5 was 16 hashes
    * per row and dominated the query at ~9.6M evaluations), flipped
    * identically by both engines, so the replicate MEMBERSHIP is
    * oracle-checked, not just the statistic. Each replicate's median is
    * the exact type-1 pick — no interpolation anywhere — the value at
    * global rank (n+1) div 2 of the replicate's cents order (see the
    * in-body rationale), and the band is the 2nd..15th order statistic
    * of the 16 replicate medians, a rank-exact ~87.5% band. Scale shape
    * (rewritten in optimization r15): ONE aggregate pass computes per
    * (group, $1000 cent band) the full count plus all B replicate
    * counts as conditional sums — the shuffle carries a bounded band
    * histogram, never exploded rows — and only each replicate's
    * straddling band is ranked for the exact pick (the
    * q_quantile_grid/[[graft.operators.Ranks]] two-phase discipline). */
  def qSubsampleCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = 16
    // Optimization r15 (guide §2.3 "aggregate before you shuffle" / §2
    // shuffle volume; VERDICT r14 item 5): the r13 formulation exploded
    // every row ×B (9.6 M rows at sf0.1, ~half surviving the coin filter)
    // into a (flag, b, cents) VALUE histogram whose distinct-value window
    // sort was nearly corpus-sized (583 k distinct of 600 k rows at
    // sf0.1, ×16 replicates). This one replaces the explode with B
    // CONDITIONAL SUMS over $1000 cent BANDS (the Ranks two-phase
    // discipline q_winsorize/q_quantile_grid already use): ONE pass
    // computes per (flag, band) the full count plus all 16 replicate
    // counts — the shuffle carries ~hundreds of 17-column band rows
    // instead of millions of value rows — and a second pass ranks ONLY
    // the straddling band of each (flag, replicate) to pick the exact
    // type-1 median. Every pick is the value at global rank
    // (n+1) div 2 in cents order — the identical statistic the value
    // histogram selected (cumulative count first reaching (n+1) div 2),
    // proven by the unchanged oracle at sf0.01 + sf0.1. Replicate
    // MEMBERSHIP is the same md5 hex-digit coin, one md5 per row,
    // computed once and checkpointed. Tables.parallel repairs the
    // single-split scan the checkpoint otherwise materializes serially
    // (guide §2.5).
    val W = 100000L // $1000 cent bands (the q_quantile_grid width)
    val li = Tables.parallel(Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          md5(concat_ws("|", col("l_orderkey"), col("l_linenumber")))
            .as("h")))
      .withColumn("bkt", expr(s"cents div $W"))
      .localCheckpoint(eager = false) // feeds the band histogram + picks
    // pass 1: per (flag, band) the full count + B replicate counts
    val aggs = count(lit(1)).as("c_full") +:
      (0 until B).map(b =>
        sum(when(expr(s"substr(h, ${b + 1}, 1) < '8'"), 1L).otherwise(0L))
          .as(s"c$b"))
    val hist = li.groupBy("flag", "bkt").agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(eager = false) // tiny (≤ flags × ~110 bands)
    // long form over (flag, replicate, band); b = -1 is the full median
    val stacked = (("-1", "c_full") +: (0 until B).map(b =>
      (b.toString, s"c$b"))).map { case (b, c) => s"$b, $c" }
      .mkString(", ")
    val longF = hist.selectExpr("flag", "bkt",
        s"stack(${B + 1}, $stacked) AS (b, cnt)")
      .filter(col("cnt") > 0)
    // exclusive prefix offsets + totals over the BAND table (bounded
    // cardinality — the legitimate small-data window user)
    val offs = longF.withColumn("off", coalesce(sum("cnt").over(
      Window.partitionBy("flag", "b").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val sizes = longF.groupBy("flag", "b").agg(sum("cnt").as("n"))
      .withColumn("pos", expr("(n + 1) div 2"))
    // exactly ONE band straddles each (flag, replicate)'s median rank
    val cand = offs.join(sizes, Seq("flag", "b"))
      .filter(col("pos") > col("off") &&
        col("pos") <= col("off") + col("cnt"))
      .select("flag", "b", "bkt", "off", "pos", "n")
    // pass 2: rank ONLY the straddling band's member rows; the value at
    // the global rank is the median (row_number ties are value-neutral)
    val picked = li.join(broadcast(cand), Seq("flag", "bkt"))
      .filter(col("b") === -1 || expr("substr(h, b + 1, 1) < '8'"))
      .withColumn("rn", col("off") + row_number().over(
        Window.partitionBy("flag", "b").orderBy("cents")))
      .filter(col("rn") === col("pos"))
      .select("flag", "b", "n", "cents")
    val full = picked.filter(col("b") === -1)
      .select(col("flag"), col("n").as("n_rows"),
        col("cents").as("median_full_c"))
    val reps = picked.filter(col("b") >= 0)
      .select(col("flag"), col("b"), col("cents").as("med_c"))
    reps
      .withColumn("r", row_number().over(
        Window.partitionBy("flag").orderBy("med_c", "b")))
      .groupBy("flag")
      .agg(min(when(col("r") === 2, col("med_c"))).as("ci_lo_c"),
        min(when(col("r") === B - 1, col("med_c"))).as("ci_hi_c"))
      .join(full, "flag")
      .select(col("flag").as("l_returnflag"), col("n_rows"),
        col("median_full_c"), col("ci_lo_c"), col("ci_hi_c"))
      .orderBy("l_returnflag")
  }

  /** q_quantile_grid — per-returnflag exact percentile grid (p1, p5, p25,
    * p50, p75, p95, p99 of extended-price cents): the distribution summary
    * a monitoring dashboard keys on, every cell a TYPE-1 order statistic
    * at ⌈p·n/100⌉ of the (cents, line-id) total order — rank-exact
    * integers, no interpolation, so no cross-engine float risk anywhere.
    *
    * Scale shape: the [[graft.operators.Ranks]] two-phase discipline born
    * this round — $1000 cent-band counts aggregate map-side, only the ≤7
    * straddling buckets per group are ranked, the picks ride one
    * broadcast; the corpus NEVER rides a group-partitioned rank window
    * (a returnflag is a third of the table). */
  def qQuantileGrid(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        expr("l_orderkey * 10 + l_linenumber").as("id"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .localCheckpoint(eager = false) // feeds offsets + the pick window
    val bucket = expr("cents div 100000")
    val offs = graft.operators.Ranks.bucketOffsets(base, Seq("flag"), bucket)
    val positions = graft.operators.Ranks.totals(offs, Seq("flag"))
      .select(col("flag"), col("n"),
        explode(array(Seq(1L, 5L, 25L, 50L, 75L, 95L, 99L).map(lit): _*))
          .as("p"))
      .withColumn("pos",
        greatest(lit(1L), expr("CAST(ceil(p * n / 100.0) AS BIGINT)")))
    val picked = graft.operators.Ranks.orderStatAt(base, Seq("flag"), bucket,
      Seq(col("cents"), col("id")), "cents", offs, positions, "pos",
      "value_cents")
    picked.select("flag", "p", "n", "pos", "value_cents")
      .orderBy("flag", "p")
  }

  /** q_iqr_fences — Tukey boxplot fence report per returnflag: type-1
    * p25/p75, IQR, and how much of the tail sits outside the 1.5·IQR
    * fences — the third robust-outlier view beside q_outliers (per-row
    * MAD z) and q_winsorize (clipping): it counts what a boxplot would
    * flag instead of flagging rows or clipping them. Everything integer:
    * fences compare in DOUBLED cents (2·cents vs 2·q25 − 3·iqr), so the
    * ×1.5 never touches a float and both engines decide every row with
    * int64 comparisons.
    *
    * Scale shape: two [[graft.operators.Ranks]] order-statistic picks
    * (straddling buckets only) + one broadcast-fence clipped-count
    * aggregate — the q_winsorize plan with a different tail. */
  def qIqrFences(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        expr("l_orderkey * 10 + l_linenumber").as("id"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .localCheckpoint(eager = false) // feeds offsets, picks + fence agg
    val fences = graft.operators.Ranks.percentileBounds(base, Seq("flag"),
        expr("cents div 100000"), Seq(col("cents"), col("id")), "cents",
        25, 75, "p25_cents", "p75_cents")
      .withColumn("iqr_cents", col("p75_cents") - col("p25_cents"))
      .withColumn("lo2", lit(2L) * col("p25_cents") - lit(3L) * col("iqr_cents"))
      .withColumn("hi2", lit(2L) * col("p75_cents") + lit(3L) * col("iqr_cents"))
    base.join(broadcast(fences), "flag")
      .groupBy("flag")
      .agg(count(lit(1)).as("n"),
        max("p25_cents").as("p25_cents"),
        max("p75_cents").as("p75_cents"),
        max("iqr_cents").as("iqr_cents"),
        sum(when(col("cents") * 2 < col("lo2"), 1L).otherwise(0L))
          .as("n_below"),
        sum(when(col("cents") * 2 > col("hi2"), 1L).otherwise(0L))
          .as("n_above"))
      .withColumn("outlier_permille",
        expr("((n_below + n_above) * 1000) div n"))
      .orderBy("flag")
  }

  /** q_vocab_coverage — top-K vocabulary token-coverage curve: for K ∈
    * {10, 100, 1000, 10000}, how many corpus token OCCURRENCES the K most
    * frequent word types cover (exact permille) — the tokenizer/vocab
    * sizing measurement (where the coverage curve flattens is where
    * added vocab stops paying), the cumulative companion of q_zipf_slope
    * and q_heaps_law. Ties break (count desc, token asc) — a pinned
    * total order, so the curve is engine-exact.
    *
    * Scale shape: the corpus is touched by one explode + one
    * vocab-bounded aggregate (map-side partials); the top-10000 cut is a
    * TakeOrdered (never a materialized global sort — the q_hill_tail
    * pin), and the rank window + K-threshold join run on that bounded
    * 10k-row table (the legitimate small-table window user). */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(explode(T.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum("cnt").as("total"))
    val top = tf.orderBy(desc("cnt"), asc("tok")).limit(10000)
      .withColumn("rnk",
        row_number().over(Window.orderBy(desc("cnt"), asc("tok")))
          .cast("long"))
    val ks = s.range(0, 1).select(
      explode(array(Seq(10L, 100L, 1000L, 10000L).map(lit): _*)).as("k"))
    top.join(broadcast(ks), col("rnk") <= col("k"))
      .groupBy("k")
      .agg(max("rnk").as("vocab_used"), sum("cnt").as("covered_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("coverage_permille",
        expr("(covered_tokens * 1000) div total"))
      .select("k", "vocab_used", "covered_tokens", "coverage_permille")
      .orderBy("k")
  }

  /** q_gap_quantiles — inter-event wait-time percentiles per event type:
    * p50/p90/p99 of the gap (exact integer microseconds) between an
    * event and the SAME user's previous event — "how long do users idle
    * before doing X", the latency-shaped behavioral signal beside
    * q_transitions' which-comes-next matrix and q_sessionize's gap cut.
    * Every percentile is a TYPE-1 order statistic at ⌈p·n/100⌉ of the
    * (gap, event id) total order — rank-exact, interpolation-free.
    *
    * Scale shape: the lag window is user-keyed (bounded per user — the
    * q_transitions shuffle); the percentile picks are the
    * [[graft.operators.Ranks]] straddle path over minute-wide gap bands,
    * so an event type (a fifth of the whole stream) never rides one
    * rank-window task. */
  def qGapQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(col("event_type"), col("event_id"), col("gap_us"))
      .localCheckpoint(eager = false) // feeds offsets + the pick window
    val bucket = expr("gap_us div 60000000")
    val offs = graft.operators.Ranks.bucketOffsets(gaps, Seq("event_type"),
      bucket)
    val positions = graft.operators.Ranks.totals(offs, Seq("event_type"))
      .select(col("event_type"), col("n"),
        explode(array(Seq(50L, 90L, 99L).map(lit): _*)).as("p"))
      .withColumn("pos",
        greatest(lit(1L), expr("CAST(ceil(p * n / 100.0) AS BIGINT)")))
    graft.operators.Ranks.orderStatAt(gaps, Seq("event_type"), bucket,
        Seq(col("gap_us"), col("event_id")), "gap_us", offs, positions,
        "pos", "gap_quantile_us")
      .select("event_type", "p", "n", "pos", "gap_quantile_us")
      .orderBy("event_type", "p")
  }

  /** q_token_gini — vocabulary-frequency Gini coefficient in exact
    * permille: inequality of the token-type frequency distribution — the
    * single concentration number beside q_vocab_coverage's curve,
    * q_zipf_slope's power-law fit and q_heaps_law's growth (mass in few
    * types → high; uniform vocabulary → 0). Gini on the ASCENDING count
    * order, G = (2·Σᵢ i·cᵢ − (n+1)·T) / (n·T), computed WITHOUT ranking
    * a single type: a run of equal counts contributes the
    * arithmetic-series closed form c·(m·prev + m(m+1)/2), so the whole
    * statistic folds off the count HISTOGRAM (count value → #types) —
    * the q_mannwhitney shape: corpus → vocab-bounded aggregate →
    * distinct-count-bounded histogram (≤ O(√tokens) rows by the sum
    * constraint) → one bounded cumulative window. Σ i·cᵢ would overflow
    * int64 at corpus scale (i ≤ vocab, cᵢ ≤ corpus), so it widens to
    * DECIMAL(38,0) at the aggregate — the house rule. */
  def qTokenGini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(s, dir)
      .select(explode(T.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .groupBy("cnt").agg(count(lit(1)).as("m"))
    val wp = Window.orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the DOUBLED rank-weighted sum S2 = 2·Σᵢ i·cᵢ: a run of m equal
    // counts c after `prev` smaller types contributes c·m·(2·prev+m+1) —
    // integer with NO halving, so nothing ever truncates; m widens
    // BEFORE its products (the hapax run alone has m ~ vocabulary size,
    // so m·prev crosses int64 at corpus scale and a non-ANSI long
    // multiply would wrap silently). G = (S2 − (n+1)·T) / (n·T).
    hist.withColumn("prev", coalesce(sum("m").over(wp), lit(0L)))
      .agg(
        sum(expr(
          "CAST(cnt AS DECIMAL(38,0)) * CAST(m AS DECIMAL(38,0))" +
            " * (2 * prev + m + 1)"))
          .as("S2"),
        sum("m").as("n"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * m")).as("T"))
      .select(col("n").as("n_types"),
        expr("CAST(T AS BIGINT)").as("total_tokens"),
        expr("CAST((S2 - (n + 1) * T) * 1000 div (n * T) AS BIGINT)")
          .as("gini_permille"))
  }

  /** q_distinct_ngrams — per-source distinct-n diversity (Li et al. 2016's
    * generation-diversity metric, applied corpus-side): for n ∈ {1,2,3},
    * distinct word n-grams per TOTAL n-gram occurrences (permille). A
    * source whose distinct-2/3 collapses is template spam or a crawl
    * loop — the corpus-level companion of q_rep_ngram's per-doc screen.
    *
    * Scale shape: one corpus pass per n (a narrow (source, text)
    * projection through the zipped-slice shingler), then (source, gram)
    * → source aggregates with map-side partials — the two-stage
    * distinct that never holds a gram set in memory. Three column-pruned
    * scans is the deliberate trade at this n-count: the fused
    * alternative (tag each shingle with its n in a per-element struct
    * transform, one explode) saves 2 scans of a 2-column projection but
    * pays 3 extra interpreted HOF lambdas per row — swap to it when scan
    * IO dominates (wide n ranges / remote storage). Pure integer counts:
    * engine-exact with no quantization caveats. */
  def qDistinctNgrams(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("text"))
    (1 to 3).map { n =>
      docs.select(col("source"),
          explode(T.wordShingles(col("text"), n)).as("gram"))
        .groupBy("source", "gram").agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(count(lit(1)).as("distinct_ngrams"),
          sum("cnt").as("total_ngrams"))
        .select(col("source"), lit(n).cast("int").as("n"),
          col("distinct_ngrams"), col("total_ngrams"),
          expr("(distinct_ngrams * 1000) div total_ngrams")
            .as("distinct_permille"))
    }.reduce(_ unionAll _).orderBy("source", "n")
  }

  /** q_entropy_rate — per-language character-level CONDITIONAL entropy
    * H(c₂|c₁) in micro-nats: how predictable the next character is given
    * the current one — the entropy-RATE screen that separates natural
    * language (~1.5–2.5 nats) from both gibberish (→ H(c), no
    * conditioning gain) and template spam (→ 0). Complements
    * q_char_entropy's per-doc unigram entropy with the corpus-level
    * sequential statistic. H(c₂|c₁) = Σ p(c₁c₂)·ln(A(c₁)/B(c₁c₂)) over
    * the bigram table, B = bigram count, A = its prefix-char total.
    *
    * Scale shape: one corpus pass (position explode, the
    * Signals.charEntropy idiom) into a CHARSET²-bounded bigram table;
    * the prefix join and entropy fold run on that bounded table. Each
    * bigram's term quantizes to micro-nats BEFORE the sum (integer
    * accumulation — order-immune, the repo-wide oracle discipline). */
  def qEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = length(col("text"))
    val positions = when(n > 1, sequence(lit(1), n - 1))
      .otherwise(array().cast("array<int>"))
    val bg = docs
      .select(col("lang"), explode(positions).as("i"), col("text").as("_t"))
      .select(col("lang"), col("_t").substr(col("i"), lit(2)).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("b"))
      .localCheckpoint(eager = false)
    // rename-then-join: pref derives from bg (shared lineage), so joining
    // on same-named columns trips Spark's self-join ambiguity check —
    // fresh aliases sidestep it (the Ranks.joinNullSafe discipline)
    val pref = bg.groupBy(col("lang"), substring(col("bg"), 1, 1).as("c1"))
      .agg(sum("b").as("a"))
      .withColumnRenamed("lang", "_p_lang")
    bg.join(pref, col("lang") === col("_p_lang") &&
        substring(col("bg"), 1, 1) === col("c1"))
      .select(col("lang"),
        col("b"),
        round(col("b").cast("double") *
          log(col("a").cast("double") / col("b").cast("double")) *
          lit(1000000.0), 0).cast("decimal(38,0)").as("term_u"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_bigram_types"),
        sum("b").as("n_bigrams"),
        sum("term_u").as("tsum"))
      .select(col("lang"), col("n_bigram_types"), col("n_bigrams"),
        expr("CAST(tsum div n_bigrams AS BIGINT)")
          .as("cond_entropy_micro"))
      .orderBy("lang")
  }

  /** q_oov_rate — per-language rare-token exposure against the corpus
    * vocabulary: the share of token OCCURRENCES (and of word TYPES)
    * whose corpus-wide type frequency is < 3 — the "how much of this
    * language's text rides the unreliable vocabulary tail" readout that
    * decides per-language vocab allocation and min-frequency cuts
    * (q_vocab_coverage gives the head curve; this is the tail, sliced
    * by language). Pure integer counts — engine-exact.
    *
    * Scale shape: corpus touched once (token explode); everything after
    * is vocab-bounded — corpus-wide type frequencies, per-(lang, token)
    * counts, and a vocab×vocab equi-join on the token key. */
  def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("lang"), explode(T.tokens(col("text"))).as("tok"))
      .localCheckpoint(eager = false)
    val tf = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    toks.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .join(tf, "tok")
      .groupBy("lang")
      .agg(sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("freq") < 3, col("cnt")).otherwise(0L)).as("rare_tokens"),
        sum(when(col("freq") < 3, 1L).otherwise(0L)).as("rare_types"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("rare_tokens"), col("rare_types"),
        expr("(rare_tokens * 1000) div n_tokens").as("rare_token_permille"),
        expr("(rare_types * 1000) div n_types").as("rare_type_permille"))
      .orderBy("lang")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_distinct_ngrams" -> (qDistinctNgrams _),
    "q_entropy_rate" -> (qEntropyRate _),
    "q_oov_rate" -> (qOovRate _),
    "q_gap_quantiles" -> (qGapQuantiles _),
    "q_token_gini" -> (qTokenGini _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_quantile_grid" -> (qQuantileGrid _),
    "q_iqr_fences" -> (qIqrFences _),
    "q_subsample_ci" -> (qSubsampleCi _),
    "q_kmv_distinct" -> (qKmvDistinct _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_spearman" -> (qSpearman _),
    "q_kendall" -> (qKendall _),
    "q_cramers_v" -> (qCramersV _),
    "q_anova" -> (qAnova _),
    "q_corr" -> (qCorr _),
    "q_mannwhitney" -> (qMannwhitney _),
    "q_cliffs_delta" -> (qCliffsDelta _),
    "q_hill_tail" -> (qHillTail _),
    "q_benford" -> (qBenford _),
    "q_cms_topk" -> (qCmsTopk _),
    "q_ols" -> (qOls _),
    "q_textrank" -> (qTextrank _),
    "q_bigram_lm" -> (qBigramLm _),
    "q_kn_bigram" -> (qKnBigram _),
    "q_cooccur_pmi" -> (qCooccurPmi _),
    "q_classify_linear" -> (qClassifyLinear _),
    "q_ece" -> (qEce _),
    "q_char_entropy" -> (qCharEntropy _),
    "q_sample_weighted" -> (qSampleWeighted _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_keyness" -> (qKeyness _),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _),
    "q_novelty" -> (qNovelty _))

  /** Shared CTE chain for the q_classify_linear / q_ece oracles: FNV-1a
    * token hashing, bucket weights, per-doc (n_tokens, w_sum_micro) as
    * `agg` — one definition so the two oracles cannot drift. */
  private val linearScoreCtes: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id, list_reduce(
      |    list_prepend(2166136261::BIGINT,
      |      list_transform(range(1, length(tok) + 1),
      |        i -> ord(substr(tok, i, 1))::BIGINT)),
      |    (acc, b) -> (xor(acc, b) * 16777619) % 4294967296) AS hu
      |  FROM toks),
      |b AS (
      |  SELECT doc_id,
      |    (CASE WHEN hs < 0 THEN -hs ELSE hs END) % 64 AS bucket
      |  FROM (SELECT doc_id, CASE WHEN hu >= 2147483648
      |    THEN hu - 4294967296 ELSE hu END AS hs FROM h)),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    SUM((bucket * 2654435761) % 2000001 - 1000000) AS w_sum_micro
      |  FROM b GROUP BY doc_id)""".stripMargin

  /** TextRank oracle: the adjacency-graph head + the shared unrolled
    * PageRank CTE chain (`Clusters.pagerankOracleCtes`). */
  private def textrankOracleSql(iterations: Int): String = {
    val head =
      """WITH arr AS (
        |  SELECT string_split(text, ' ') AS a FROM documents),
        |adj AS (
        |  SELECT least(a[i], a[i+1]) AS lo, greatest(a[i], a[i+1]) AS hi
        |  FROM arr, unnest(range(1, len(a))) AS r(i)
        |  WHERE len(a) >= 2),
        |pc AS (
        |  SELECT lo, hi, COUNT(*) AS c FROM adj
        |  WHERE lo <> hi GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |e AS (
        |  SELECT lo AS src, hi AS dst, c AS w FROM pc
        |  UNION ALL SELECT hi, lo, c FROM pc)""".stripMargin
    head + ",\n" + graft.operators.Clusters.pagerankOracleCtes(iterations) +
      s"""\nSELECT node AS token, r AS rank_micro FROM r$iterations
         |ORDER BY rank_micro DESC, token LIMIT 50""".stripMargin
  }

  override val oracle: Map[String, String] = Map(
    // Distinct-n diversity: the same zipped n-gram extraction (1-based
    // list slices, ' '-joined), pure integer counts.
    "q_distinct_ngrams" ->
      """WITH ws AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g1 AS (SELECT source, unnest(w) AS gram FROM ws),
        |g2 AS (SELECT source, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] AS gram
        |       FROM ws, unnest(range(1, len(w))) AS u(i)),
        |g3 AS (SELECT source, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
        |         || ' ' || w[CAST(i AS INT) + 2] AS gram
        |       FROM ws, unnest(range(1, len(w) - 1)) AS u(i)),
        |c1 AS (SELECT source, 1 AS n, COUNT(DISTINCT gram) AS distinct_ngrams,
        |       COUNT(*) AS total_ngrams FROM g1 GROUP BY source),
        |c2 AS (SELECT source, 2 AS n, COUNT(DISTINCT gram) AS distinct_ngrams,
        |       COUNT(*) AS total_ngrams FROM g2 GROUP BY source),
        |c3 AS (SELECT source, 3 AS n, COUNT(DISTINCT gram) AS distinct_ngrams,
        |       COUNT(*) AS total_ngrams FROM g3 GROUP BY source)
        |SELECT source, n, distinct_ngrams, total_ngrams,
        |  (distinct_ngrams * 1000) // total_ngrams AS distinct_permille
        |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2
        |      UNION ALL SELECT * FROM c3)
        |ORDER BY source, n""".stripMargin,
    // Conditional char entropy: identical bigram extraction (substr i,2
    // over positions 1..len-1), per-bigram micro-nat term rounded BEFORE
    // the integral sum (order-immune), floor division at the end.
    "q_entropy_rate" ->
      """WITH bgc AS (
        |  SELECT lang, substr(text, CAST(i AS INT), 2) AS bg, COUNT(*) AS b
        |  FROM documents, unnest(range(1, length(text))) AS u(i)
        |  GROUP BY lang, bg),
        |pref AS (SELECT lang, substr(bg, 1, 1) AS c1, SUM(b) AS a
        |         FROM bgc GROUP BY lang, c1),
        |terms AS (SELECT bgc.lang AS lang, b,
        |    CAST(round(b::DOUBLE * ln(a::DOUBLE / b::DOUBLE) * 1000000.0, 0)
        |      AS DECIMAL(38,0)) AS term_u
        |  FROM bgc JOIN pref ON bgc.lang = pref.lang
        |    AND substr(bg, 1, 1) = pref.c1)
        |SELECT lang, COUNT(*) AS n_bigram_types,
        |  CAST(SUM(b) AS BIGINT) AS n_bigrams,
        |  CAST(CAST(SUM(term_u) AS HUGEINT) // CAST(SUM(b) AS HUGEINT)
        |    AS BIGINT) AS cond_entropy_micro
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,
    // Rare-token exposure: corpus type frequencies joined back per
    // (lang, token) — all integer counts, floor-div permilles.
    "q_oov_rate" ->
      """WITH toks AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
        |lt AS (SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY lang, tok)
        |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  CAST(SUM(CASE WHEN freq < 3 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS rare_tokens,
        |  CAST(SUM(CASE WHEN freq < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS rare_types,
        |  (CAST(SUM(CASE WHEN freq < 3 THEN cnt ELSE 0 END) AS BIGINT) * 1000)
        |    // CAST(SUM(cnt) AS BIGINT) AS rare_token_permille,
        |  (CAST(SUM(CASE WHEN freq < 3 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
        |    // COUNT(*) AS rare_type_permille
        |FROM lt JOIN tf USING (tok)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // Gap quantiles: exact integer microseconds (epoch_us ≡ unix_micros,
    // both truncation-free), same lag-then-rank spec as the engine.
    "q_gap_quantiles" ->
      """WITH g AS (
        |  SELECT event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - LAG(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER (
        |          PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        |  FROM events),
        |f AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
        |r AS (
        |  SELECT event_type, event_id, gap_us,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY gap_us, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM f),
        |p AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS p)
        |SELECT event_type, p, n,
        |  GREATEST(1, CAST(ceil(p * n / 100.0) AS BIGINT)) AS pos,
        |  gap_us AS gap_quantile_us
        |FROM r JOIN p
        |  ON rn = GREATEST(1, CAST(ceil(p * n / 100.0) AS BIGINT))
        |ORDER BY event_type, p""".stripMargin,
    // Token Gini: arithmetic-series fold off the count histogram;
    // HUGEINT moments mirror the engine's DECIMAL(38,0); all divisions
    // over non-negative integers so `//` and Spark's div agree.
    "q_token_gini" ->
      """WITH tf AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM tf GROUP BY tok),
        |h AS (SELECT cnt, COUNT(*) AS m FROM c GROUP BY cnt),
        |cum AS (
        |  SELECT cnt, m,
        |    COALESCE(SUM(m) OVER (ORDER BY cnt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM h),
        |agg AS (
        |  SELECT
        |    SUM(CAST(cnt AS HUGEINT) * CAST(m AS HUGEINT)
        |      * (2 * prev + m + 1)) AS S2,
        |    SUM(m) AS n,
        |    SUM(CAST(cnt AS HUGEINT) * m) AS T
        |  FROM cum)
        |SELECT CAST(n AS BIGINT) AS n_types, CAST(T AS BIGINT) AS total_tokens,
        |  CAST((S2 - (n + 1) * T) * 1000 // (n * T) AS BIGINT)
        |    AS gini_permille
        |FROM agg""".stripMargin,
    // Vocab coverage: pinned (count desc, token asc) total order; the
    // permille is integer floor division of exact long counts.
    "q_vocab_coverage" ->
      """WITH tf AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM tf GROUP BY tok),
        |tot AS (SELECT SUM(cnt) AS total FROM c),
        |r AS (SELECT tok, cnt,
        |  ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk FROM c),
        |ks AS (SELECT CAST(unnest([10, 100, 1000, 10000]) AS BIGINT) AS k)
        |SELECT k, CAST(MAX(rnk) AS BIGINT) AS vocab_used,
        |  CAST(SUM(cnt) AS BIGINT) AS covered_tokens,
        |  CAST((SUM(cnt) * 1000) // MAX(total) AS BIGINT)
        |    AS coverage_permille
        |FROM r JOIN ks ON r.rnk <= ks.k CROSS JOIN tot
        |GROUP BY k ORDER BY k""".stripMargin,
    // Quantile grid: the oracle states the SPEC (naive per-group rank
    // window) that the engine's two-phase Ranks plan must reproduce
    // bit-for-bit; type-1 positions, GREATEST(1, ceil) as in the engine.
    "q_quantile_grid" ->
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    l_orderkey * 10 + l_linenumber AS id
        |  FROM lineitem),
        |r AS (
        |  SELECT flag, cents,
        |    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cents, id) AS rn,
        |    COUNT(*) OVER (PARTITION BY flag) AS n
        |  FROM v),
        |p AS (SELECT CAST(unnest([1, 5, 25, 50, 75, 95, 99]) AS BIGINT) AS p)
        |SELECT flag, p, n,
        |  GREATEST(1, CAST(ceil(p * n / 100.0) AS BIGINT)) AS pos,
        |  cents AS value_cents
        |FROM r JOIN p
        |  ON rn = GREATEST(1, CAST(ceil(p * n / 100.0) AS BIGINT))
        |ORDER BY flag, p""".stripMargin,
    // IQR fences: doubled-cents comparisons keep the 1.5x fence integer;
    // both engines decide every row with int64 compares.
    "q_iqr_fences" ->
      """WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    l_orderkey * 10 + l_linenumber AS id
        |  FROM lineitem),
        |r AS (
        |  SELECT flag, cents,
        |    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cents, id) AS rn,
        |    COUNT(*) OVER (PARTITION BY flag) AS n
        |  FROM v),
        |b AS (
        |  SELECT flag,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(25 * n / 100.0) AS BIGINT))
        |      THEN cents END) AS p25,
        |    MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(75 * n / 100.0) AS BIGINT))
        |      THEN cents END) AS p75
        |  FROM r GROUP BY flag),
        |agg AS (
        |  SELECT v.flag, COUNT(*) AS n, MAX(p25) AS p25_cents,
        |    MAX(p75) AS p75_cents, MAX(p75 - p25) AS iqr_cents,
        |    SUM(CASE WHEN 2 * cents < 2 * p25 - 3 * (p75 - p25)
        |      THEN 1 ELSE 0 END) AS n_below,
        |    SUM(CASE WHEN 2 * cents > 2 * p75 + 3 * (p75 - p25)
        |      THEN 1 ELSE 0 END) AS n_above
        |  FROM v JOIN b USING (flag) GROUP BY v.flag)
        |SELECT flag, n, p25_cents, p75_cents, iqr_cents,
        |  CAST(n_below AS BIGINT) AS n_below,
        |  CAST(n_above AS BIGINT) AS n_above,
        |  CAST(((n_below + n_above) * 1000) // n AS BIGINT)
        |    AS outlier_permille
        |FROM agg ORDER BY flag""".stripMargin,
    // Subsampling CI: 16 md5-nibble coins per row; type-1 medians picked
    // from per-value histograms by cumulative count (mirrors the engine's
    // scale shape — the median VALUE is tie-independent); both `//` and
    // Spark's div floor on positives. round(x*100, 0) is
    // half-away-from-zero in both engines on positive prices.
    "q_subsample_ci" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_returnflag AS flag, l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem),
        |full_m AS (
        |  -- SUM() windows are HUGEINT in DuckDB: cast the emitted and
        |  -- compared values back to BIGINT so the engine compare sees
        |  -- int64 on both sides
        |  SELECT flag, n AS n_rows, cents AS median_full_c FROM (
        |    SELECT flag, cents, cnt, n,
        |      CAST(SUM(cnt) OVER (PARTITION BY flag ORDER BY cents)
        |        AS BIGINT) AS cum
        |    FROM (SELECT flag, cents, COUNT(*) AS cnt,
        |            CAST(SUM(COUNT(*)) OVER (PARTITION BY flag) AS BIGINT) AS n
        |          FROM li GROUP BY flag, cents))
        |  WHERE cum - cnt < (n + 1) // 2 AND cum >= (n + 1) // 2),
        |reps AS (
        |  SELECT flag, b, cents
        |  FROM (SELECT flag, cents,
        |          md5(CAST(ok AS VARCHAR) || '|' || CAST(ln AS VARCHAR)) AS h
        |        FROM li) CROSS JOIN range(0, 16) t(b)
        |  WHERE substr(h, CAST(b + 1 AS INTEGER), 1) < '8'),
        |med AS (
        |  SELECT flag, b, cents AS med_c FROM (
        |    SELECT flag, b, cents, cnt, n,
        |      CAST(SUM(cnt) OVER (PARTITION BY flag, b ORDER BY cents)
        |        AS BIGINT) AS cum
        |    FROM (SELECT flag, b, cents, COUNT(*) AS cnt,
        |            CAST(SUM(COUNT(*)) OVER (PARTITION BY flag, b)
        |              AS BIGINT) AS n
        |          FROM reps GROUP BY flag, b, cents))
        |  WHERE cum - cnt < (n + 1) // 2 AND cum >= (n + 1) // 2),
        |band AS (
        |  SELECT flag,
        |    MIN(CASE WHEN r = 2 THEN med_c END) AS ci_lo_c,
        |    MIN(CASE WHEN r = 15 THEN med_c END) AS ci_hi_c
        |  FROM (SELECT flag, med_c,
        |          row_number() OVER (PARTITION BY flag
        |            ORDER BY med_c, b) AS r
        |        FROM med)
        |  GROUP BY flag)
        |SELECT f.flag AS l_returnflag, f.n_rows, f.median_full_c,
        |  band.ci_lo_c, band.ci_hi_c
        |FROM full_m f JOIN band ON band.flag = f.flag
        |ORDER BY l_returnflag""".stripMargin,
    // KMV: 12 md5 hex digits -> 48-bit integer via shifts; kth smallest
    // distinct hash; pure-integer estimator.
    "q_kmv_distinct" ->
      s"""WITH hv AS (
        |  SELECT DISTINCT g, h FROM (
        |    SELECT event_type AS g,
        |      CAST(list_sum(list_transform(range(1, 13), i ->
        |        CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1
        |          AS BIGINT) << (4 * (12 - CAST(i AS INTEGER))))) AS BIGINT) AS h
        |    FROM (SELECT DISTINCT event_type, user_id FROM events))),
        |kth AS (
        |  SELECT g, h AS h_k FROM (
        |    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
        |    FROM hv) WHERE rn = 32),
        |exact AS (
        |  SELECT event_type AS g, COUNT(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY 1)
        |SELECT e.g AS event_type, CAST(n_exact AS BIGINT) AS n_exact, h_k,
        |  CASE WHEN h_k IS NOT NULL
        |    THEN CAST((31 * ${1L << 48}) // h_k AS BIGINT) END AS n_est,
        |  CASE WHEN h_k IS NOT NULL
        |    THEN CAST((1000 * ((31 * ${1L << 48}) // h_k)) // n_exact
        |      AS BIGINT) END AS est_permille
        |FROM exact e LEFT JOIN kth USING (g)
        |ORDER BY event_type""".stripMargin,
    // Mutual information: chi2-cell margins + ln with micro rounding (the
    // keyness G2 idiom); total = window sum of pre-rounded terms.
    "q_mutual_info" ->
      """WITH src AS (
        |  SELECT event_type AS a, isodow(CAST(ts AS DATE)) AS b FROM events),
        |cells AS (SELECT a, b, COUNT(*) AS o FROM src GROUP BY 1, 2),
        |rt AS (SELECT a, SUM(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT b, SUM(o) AS c FROM cells GROUP BY 1),
        |nt AS (SELECT SUM(o) AS n FROM cells),
        |j AS (
        |  SELECT cells.a, cells.b, CAST(o AS BIGINT) AS o,
        |    CAST(rt.r AS BIGINT) AS r, CAST(ct.c AS BIGINT) AS c,
        |    CAST(nt.n AS BIGINT) AS n
        |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nt),
        |terms AS (
        |  SELECT a, b, o AS observed,
        |    CAST(round(ln(CAST(o AS DOUBLE) * n /
        |      (CAST(r AS DOUBLE) * c)) * 1000000) AS BIGINT) AS pmi_micro,
        |    CAST(round(CAST(o AS DOUBLE) / n *
        |      ln(CAST(o AS DOUBLE) * n / (CAST(r AS DOUBLE) * c))
        |      * 1000000) AS BIGINT) AS term_micro
        |  FROM j)
        |SELECT a, b, observed, pmi_micro, term_micro,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) AS mi_micro
        |FROM terms ORDER BY a, b""".stripMargin,
    // Spearman: doubled average ranks (2·cum + t + 1) per (g, value),
    // HUGEINT moments, mirrored double formula, micro-floored.
    "q_spearman" ->
      """WITH base AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |cx AS (SELECT g, x AS v, COUNT(*) AS t FROM base GROUP BY g, x),
        |rx AS (SELECT g, v,
        |    2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r
        |  FROM cx),
        |cy AS (SELECT g, y AS v, COUNT(*) AS t FROM base GROUP BY g, y),
        |ry AS (SELECT g, v,
        |    2 * COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r
        |  FROM cy),
        |j AS (
        |  SELECT b.g, rx.r AS rx, ry.r AS ry
        |  FROM base b
        |  JOIN rx ON rx.g = b.g AND rx.v = b.x
        |  JOIN ry ON ry.g = b.g AND ry.v = b.y),
        |m AS (
        |  SELECT g, COUNT(*) AS n,
        |    SUM(CAST(rx AS HUGEINT)) AS sx, SUM(CAST(ry AS HUGEINT)) AS sy,
        |    SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
        |    SUM(CAST(ry AS HUGEINT) * ry) AS syy,
        |    SUM(CAST(rx AS HUGEINT) * ry) AS sxy
        |  FROM j GROUP BY g),
        |f AS (
        |  SELECT g, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS vy
        |  FROM m)
        |SELECT g AS l_returnflag, n,
        |  CASE WHEN vx > 0 AND vy > 0 THEN
        |    CAST(floor(1000000 * cov / sqrt(vx * vy) + 0.5) AS BIGINT)
        |  END AS rho_micro
        |FROM f ORDER BY l_returnflag""".stripMargin,
    // Kendall τ-b: bounded cell-pair concordance, HUGEINT pair counts,
    // mirrored double tau, micro-floored.
    "q_kendall" ->
      """WITH base AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) // 1000000 AS y
        |  FROM lineitem),
        |cells AS (SELECT g, x, y, CAST(COUNT(*) AS HUGEINT) AS m
        |  FROM base GROUP BY g, x, y),
        |pr AS (
        |  SELECT p.g,
        |    SUM(CASE WHEN p.y < q.y THEN p.m * q.m ELSE 0 END) AS cc,
        |    SUM(CASE WHEN p.y > q.y THEN p.m * q.m ELSE 0 END) AS dd
        |  FROM cells p JOIN cells q ON p.g = q.g AND p.x < q.x
        |  GROUP BY p.g),
        |mar AS (SELECT g, SUM(m) AS n FROM cells GROUP BY g),
        |t1 AS (SELECT g, SUM(t * (t - 1)) / 2 AS n1
        |  FROM (SELECT g, x, SUM(m) AS t FROM cells GROUP BY g, x)
        |  GROUP BY g),
        |t2 AS (SELECT g, SUM(t * (t - 1)) / 2 AS n2
        |  FROM (SELECT g, y, SUM(m) AS t FROM cells GROUP BY g, y)
        |  GROUP BY g),
        |f AS (
        |  SELECT pr.g, n, cc, dd, n * (n - 1) / 2 AS n0, n1, n2
        |  FROM pr JOIN mar USING (g) JOIN t1 USING (g) JOIN t2 USING (g))
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(cc AS BIGINT) AS concordant, CAST(dd AS BIGINT) AS discordant,
        |  CASE WHEN n0 > n1 AND n0 > n2 THEN
        |    CAST(floor(1000000 * CAST(cc - dd AS DOUBLE) /
        |      sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
        |      + 0.5) AS BIGINT)
        |  END AS tau_micro
        |FROM f ORDER BY l_returnflag""".stripMargin,
    // Cramér's V: χ² = Σ observed-cell pre-rounded micro terms + the exact
    // zero-cell mass (10⁶·n − Σ e_micro), then the normalized effect size.
    "q_cramers_v" ->
      """WITH cells AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT a, SUM(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT b, SUM(o) AS c FROM cells GROUP BY 1),
        |nt AS (SELECT SUM(o) AS n FROM cells),
        |j AS (
        |  SELECT cells.a, cells.b, CAST(o AS BIGINT) AS o,
        |    CAST(rt.r AS BIGINT) AS r, CAST(ct.c AS BIGINT) AS c,
        |    CAST(nt.n AS BIGINT) AS n,
        |    CAST(CAST(nt.n AS HUGEINT) * o -
        |      CAST(rt.r AS HUGEINT) * ct.c AS DOUBLE) AS dev
        |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nt),
        |terms AS (
        |  SELECT a, b, o, n,
        |    CAST(floor(1000000 * dev * dev /
        |      (CAST(n AS DOUBLE) * r * c) + 0.5) AS BIGINT) AS chi2_micro,
        |    CAST((2000000 * CAST(r AS HUGEINT) * c + n) // (2 * n)
        |      AS BIGINT) AS e_micro
        |  FROM j),
        |agg AS (
        |  SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c,
        |    SUM(chi2_micro) AS chi2_obs, SUM(e_micro) AS e_obs
        |  FROM terms)
        |SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
        |  CAST(c AS BIGINT) AS c,
        |  CAST(CAST(chi2_obs AS HUGEINT) + CAST(1000000 AS HUGEINT) * n
        |    - e_obs AS BIGINT) AS chi2_micro,
        |  CASE WHEN least(r, c) > 1 AND n > 0 THEN
        |    CAST(floor(1000 * sqrt(
        |      CAST(CAST(chi2_obs AS HUGEINT) + CAST(1000000 AS HUGEINT) * n
        |        - e_obs AS DOUBLE) / 1000000.0 /
        |      (CAST(n AS DOUBLE) * (least(r, c) - 1))) + 0.5) AS BIGINT)
        |  END AS v_milli
        |FROM agg""".stripMargin,
    // One-way ANOVA: HUGEINT moments, per-group pre-rounded SSB/SSW micro
    // terms, mirrored double F and eta².
    "q_anova" ->
      """WITH g AS (
        |  SELECT event_type AS g, CAST(COUNT(*) AS HUGEINT) AS ng,
        |    SUM(CAST(round(value * 100) AS HUGEINT)) AS sxg,
        |    SUM(CAST(round(value * 100) AS HUGEINT) *
        |      CAST(round(value * 100) AS HUGEINT)) AS sxxg
        |  FROM events GROUP BY event_type),
        |tot AS (SELECT COUNT(*) AS k, SUM(ng) AS n, SUM(sxg) AS sx FROM g),
        |terms AS (
        |  SELECT k, n,
        |    CAST(n * sxg - ng * sx AS DOUBLE) AS devb, ng, sxxg, sxg
        |  FROM g CROSS JOIN tot),
        |micro AS (
        |  SELECT k, n,
        |    CAST(floor(1000000 * devb * devb /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(ng AS DOUBLE))
        |      + 0.5) AS BIGINT) AS ssb_g,
        |    CAST(floor(1000000 *
        |      CAST(ng * sxxg - sxg * sxg AS DOUBLE) / CAST(ng AS DOUBLE)
        |      + 0.5) AS BIGINT) AS ssw_g
        |  FROM terms),
        |agg AS (
        |  SELECT k, CAST(n AS BIGINT) AS n, SUM(ssb_g) AS ssb_micro,
        |    SUM(ssw_g) AS ssw_micro
        |  FROM micro GROUP BY k, n)
        |SELECT CAST(k AS BIGINT) AS k, n,
        |  CAST(ssb_micro AS BIGINT) AS ssb_micro,
        |  CAST(ssw_micro AS BIGINT) AS ssw_micro,
        |  CASE WHEN k > 1 AND n > k AND ssw_micro > 0 THEN
        |    CAST(floor(1000 * (CAST(ssb_micro AS DOUBLE) / (k - 1)) /
        |      (CAST(ssw_micro AS DOUBLE) / (n - k)) + 0.5) AS BIGINT)
        |  END AS f_milli,
        |  CASE WHEN ssb_micro + ssw_micro > 0 THEN
        |    CAST(floor(1000 * CAST(ssb_micro AS DOUBLE) /
        |      (CAST(ssb_micro AS DOUBLE) + ssw_micro) + 0.5) AS BIGINT)
        |  END AS eta2_milli
        |FROM agg""".stripMargin,
    "q_mannwhitney" ->
      """WITH ev AS (
        |  SELECT event_type AS g, CAST(round(value*100) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT v, COUNT(*) AS b FROM ev WHERE g='view' GROUP BY v),
        |a AS (SELECT g, v, COUNT(*) AS a FROM ev WHERE g<>'view'
        |  GROUP BY g, v),
        |u AS (
        |  SELECT g, v, SUM(a) AS a, SUM(b) AS b FROM (
        |    SELECT g, v, a, 0 AS b FROM a
        |    UNION ALL
        |    SELECT gs.g, b.v, 0, b.b
        |    FROM (SELECT DISTINCT g FROM a) gs CROSS JOIN b)
        |  GROUP BY g, v),
        |w AS (
        |  SELECT g, v, a, b,
        |    COALESCE(SUM(b) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM u),
        |m AS (
        |  SELECT g, SUM(a) AS n1, SUM(b) AS n2,
        |    SUM(CAST(a AS HUGEINT) * (2*cumb + b)) AS u2,
        |    SUM(CAST(a+b AS HUGEINT)*(a+b)*(a+b) - (a+b)) AS tsum
        |  FROM w GROUP BY g)
        |SELECT g AS event_type, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n2 AS BIGINT) AS n2, CAST(u2 AS BIGINT) AS u2,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 THEN
        |    CAST(floor((CAST(u2 AS DOUBLE) -
        |        CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)) /
        |      sqrt(CAST(n1 AS DOUBLE)*CAST(n2 AS DOUBLE)*
        |        (CAST(n1+n2+1 AS DOUBLE) - CAST(tsum AS DOUBLE) /
        |          (CAST(n1+n2 AS DOUBLE)*(n1+n2-1)))/3.0)
        |      * 1000 + 0.5) AS BIGINT) END AS z_milli
        |FROM m ORDER BY event_type""".stripMargin,
    // Hill tail index: top-(k+1) order statistics, micro-rounded ln
    // excesses over the anchor, exact integer mean and inverse.
    "q_hill_tail" ->
      """WITH ranked AS (
        |  SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn,
        |    CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS lmu
        |  FROM (SELECT doc_id, n_chars FROM documents
        |        ORDER BY n_chars DESC, doc_id LIMIT 101)),
        |anchor AS (
        |  SELECT n_chars AS x_kplus1, lmu AS lk1 FROM ranked WHERE rn = 101),
        |s AS (
        |  SELECT MAX(x_kplus1) AS x_kplus1,
        |    CAST(SUM(lmu - lk1) AS BIGINT) AS sum_excess_micro
        |  FROM ranked, anchor WHERE rn <= 100)
        |SELECT CAST(100 AS BIGINT) AS k, x_kplus1, sum_excess_micro,
        |  CAST(sum_excess_micro // 100 AS BIGINT) AS alpha_inv_micro,
        |  CASE WHEN sum_excess_micro > 0 THEN
        |    CAST((100 * CAST(1000000000 AS HUGEINT)) // sum_excess_micro
        |      AS BIGINT) END AS alpha_milli
        |FROM s""".stripMargin,
    // Cliff's delta: the q_mannwhitney histogram CTEs, effect size
    // instead of z; magnitude classes decided in exact HUGEINT.
    "q_cliffs_delta" ->
      """WITH ev AS (
        |  SELECT event_type AS g, CAST(round(value*100) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT v, COUNT(*) AS b FROM ev WHERE g='view' GROUP BY v),
        |a AS (SELECT g, v, COUNT(*) AS a FROM ev WHERE g<>'view'
        |  GROUP BY g, v),
        |u AS (
        |  SELECT g, v, SUM(a) AS a, SUM(b) AS b FROM (
        |    SELECT g, v, a, 0 AS b FROM a
        |    UNION ALL
        |    SELECT gs.g, b.v, 0, b.b
        |    FROM (SELECT DISTINCT g FROM a) gs CROSS JOIN b)
        |  GROUP BY g, v),
        |w AS (
        |  SELECT g, v, a, b,
        |    COALESCE(SUM(b) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM u),
        |m AS (
        |  SELECT g, SUM(a) AS n1, SUM(b) AS n2,
        |    SUM(CAST(a AS HUGEINT) * (2*cumb + b)) AS u2
        |  FROM w GROUP BY g)
        |SELECT g AS event_type, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n2 AS BIGINT) AS n2, CAST(u2 AS BIGINT) AS u2,
        |  CAST(u2 - n1*n2 AS DOUBLE) / CAST(n1*n2 AS DOUBLE) AS delta,
        |  CASE WHEN abs(u2 - n1*n2) * 1000 < 147 * n1 * n2
        |    THEN 'negligible'
        |  WHEN abs(u2 - n1*n2) * 1000 < 330 * n1 * n2 THEN 'small'
        |  WHEN abs(u2 - n1*n2) * 1000 < 474 * n1 * n2 THEN 'medium'
        |  ELSE 'large' END AS magnitude
        |FROM m ORDER BY event_type""".stripMargin,
    "q_benford" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice*100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |o AS (SELECT digit, COUNT(*) AS n FROM c GROUP BY digit),
        |d AS (SELECT CAST(d AS BIGINT) AS digit,
        |    CAST(p AS BIGINT) AS exp_permille
        |  FROM (VALUES (1,301),(2,176),(3,125),(4,97),(5,79),(6,67),
        |    (7,58),(8,51),(9,46)) t(d,p)),
        |t AS (SELECT SUM(n) AS total FROM o),
        |r AS (
        |  SELECT d.digit, CAST(COALESCE(o.n,0) AS BIGINT) AS n,
        |    exp_permille,
        |    CAST((1000*COALESCE(o.n,0)) // total AS BIGINT)
        |      AS share_permille,
        |    CAST(round(((COALESCE(o.n,0) - total*exp_permille/1000.0) *
        |        (COALESCE(o.n,0) - total*exp_permille/1000.0)) /
        |      (total*exp_permille/1000.0) * 1000000) AS BIGINT) AS term_micro
        |  FROM d LEFT JOIN o USING (digit) CROSS JOIN t)
        |SELECT digit, n, share_permille, exp_permille,
        |  share_permille - exp_permille AS dev_permille, term_micro,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) AS chi2_micro
        |FROM r ORDER BY digit""".stripMargin,
    "q_cms_topk" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text,' ')) AS tok FROM documents),
        |cnt AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok),
        |cand AS (SELECT tok, exact_cnt FROM cnt
        |  ORDER BY exact_cnt DESC, tok LIMIT 20),
        |hh AS (
        |  SELECT r, (strpos('0123456789abcdef',
        |    substr(md5(r||'|'||tok),1,1))-1) % 16 AS bucket
        |  FROM toks, unnest(['0','1','2']) AS rr(r)),
        |counters AS (SELECT r, bucket, COUNT(*) AS c FROM hh GROUP BY r, bucket),
        |probe AS (
        |  SELECT cand.tok, cand.exact_cnt, rr.r,
        |    (strpos('0123456789abcdef',
        |      substr(md5(rr.r||'|'||cand.tok),1,1))-1) % 16 AS bucket
        |  FROM cand, unnest(['0','1','2']) AS rr(r)),
        |est AS (SELECT p.tok, p.exact_cnt, MIN(c.c) AS est_cnt
        |  FROM probe p JOIN counters c ON p.r = c.r AND p.bucket = c.bucket
        |  GROUP BY 1, 2)
        |SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        |  CAST(est_cnt AS BIGINT) AS est_cnt,
        |  CAST(est_cnt - exact_cnt AS BIGINT) AS over_cnt
        |FROM est ORDER BY exact_cnt DESC, tok""".stripMargin,
    "q_ols" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT g, COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM v GROUP BY g),
        |d AS (
        |  SELECT g, n,
        |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS cov,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS vx,
        |    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vy,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM m),
        |e AS (
        |  SELECT g, n, cov, vx, vy, sxd, syd,
        |    CASE WHEN vx > 0 THEN cov / vx END AS slope
        |  FROM d)
        |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN vx > 0
        |    THEN CAST(floor(1000000 * slope + 0.5) AS BIGINT) END
        |    AS slope_micro,
        |  CASE WHEN vx > 0
        |    THEN CAST(floor(1000000 * (syd - slope * sxd) / n + 0.5)
        |      AS BIGINT) END AS intercept_micro,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN CAST(floor(1000 * cov * cov / (vx * vy) + 0.5) AS BIGINT)
        |    END AS r2_milli
        |FROM e ORDER BY l_returnflag""".stripMargin,
    "q_textrank" -> textrankOracleSql(10),
    "q_corr" -> graft.operators.Profile.corrOracleSql("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    // KN: probabilities are doubles computed from exact integer counts in
    // ONE mirrored expression; per-bigram micro-nat rounding before the
    // per-doc sum keeps the score order-immune.
    "q_kn_bigram" ->
      s"""WITH ${LmScore.knPerDocOracleCtes}
        |SELECT d.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(CAST(n_unseen AS BIGINT), 0) AS n_unseen,
        |  COALESCE(nll_micro, 0) AS nll_micro,
        |  CASE WHEN COALESCE(n_bigrams, 0) > 0
        |    THEN nll_micro // n_bigrams END AS ce_micro
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_bigram_lm" ->
      """WITH arr AS (
        |  SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |bg AS (
        |  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS bg
        |  FROM arr, unnest(range(1, len(a))) AS r(i)
        |  WHERE len(a) >= 2),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
        |tot AS (SELECT SUM(c2) AS total2 FROM c2),
        |ctx AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1
        |  FROM c2 GROUP BY 1),
        |vocab AS (
        |  SELECT bg, c2, c1 FROM c2
        |  JOIN ctx ON split_part(bg, ' ', 1) = ctx.w1
        |  ORDER BY c2 DESC, bg LIMIT 500),
        |nll AS (
        |  SELECT doc_id,
        |    CASE WHEN v.bg IS NULL THEN 1 ELSE 0 END AS oov,
        |    CAST(round(-ln(CASE WHEN v.bg IS NOT NULL
        |      THEN CAST(v.c2 AS DOUBLE) / v.c1
        |      ELSE 1.0 / total2 END) * 1000000.0, 0) AS BIGINT) AS nll_u
        |  FROM bg b LEFT JOIN vocab v USING (bg) CROSS JOIN tot),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(oov) AS n_oov,
        |    SUM(nll_u) AS nll_micro
        |  FROM nll GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
        |  CAST(coalesce(nll_micro, 0) AS BIGINT) AS nll_micro,
        |  CASE WHEN n_bigrams > 0
        |    THEN CAST(nll_micro // n_bigrams AS BIGINT) END AS ce_micro
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_cooccur_pmi" ->
      """WITH arr AS (SELECT string_split(text, ' ') AS a FROM documents),
        |cnt AS (
        |  SELECT tok, COUNT(*) AS c FROM (SELECT unnest(a) AS tok FROM arr)
        |  GROUP BY tok),
        |n AS (SELECT SUM(c) AS n FROM cnt),
        |pr AS (
        |  SELECT least(a[i], a[i+s]) AS lo, greatest(a[i], a[i+s]) AS hi
        |  FROM arr, unnest(range(1, len(a) + 1)) AS r(i),
        |    unnest([1, 2]) AS sh(s)
        |  WHERE i + s <= len(a)),
        |pairs AS (SELECT lo, hi, COUNT(*) AS c_ab FROM pr GROUP BY lo, hi),
        |t AS (SELECT SUM(c_ab) AS t FROM pairs)
        |SELECT lo, hi, c_ab,
        |  CAST(round(ln((CAST(c_ab AS DOUBLE) * n * n) /
        |    (CAST(t AS DOUBLE) * cl.c * ch.c)) * 1000000.0, 0) AS BIGINT)
        |    AS pmi_micro
        |FROM pairs
        |JOIN cnt cl ON lo = cl.tok
        |JOIN cnt ch ON hi = ch.tok
        |CROSS JOIN n CROSS JOIN t
        |WHERE c_ab >= 5
        |ORDER BY pmi_micro DESC, lo, hi LIMIT 100""".stripMargin,
    "q_classify_linear" ->
      s"""WITH $linearScoreCtes
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(w_sum_micro AS BIGINT) AS w_sum_micro,
        |  CAST(floor(CAST(w_sum_micro AS DOUBLE) / n_tokens) AS BIGINT)
        |    AS score_micro,
        |  floor(CAST(w_sum_micro AS DOUBLE) / n_tokens) > 0 AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,
    // ECE: shared linear-score CTEs, milli logistic confidence, integer
    // bin/rate/gap arithmetic throughout.
    "q_ece" ->
      s"""WITH $linearScoreCtes,
        |conf AS (
        |  SELECT a.doc_id,
        |    CAST(round(1000.0 / (1.0 + exp(
        |      -(floor(CAST(a.w_sum_micro AS DOUBLE) / a.n_tokens))
        |        / 100000.0)), 0) AS BIGINT) AS conf_milli,
        |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM agg a JOIN documents d USING (doc_id)),
        |bins AS (
        |  SELECT LEAST(9, conf_milli // 100) AS bin, COUNT(*) AS n,
        |    SUM(conf_milli) AS cs, SUM(y) AS ys
        |  FROM conf GROUP BY 1),
        |g AS (
        |  SELECT bin, n, cs // n AS mean_conf_milli,
        |    (1000 * ys) // n AS acc_milli,
        |    abs(cs // n - (1000 * ys) // n) AS gap_milli
        |  FROM bins),
        |tot AS (SELECT SUM(n * gap_milli) AS gsum, SUM(n) AS nt FROM g)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(mean_conf_milli AS BIGINT) AS mean_conf_milli,
        |  CAST(acc_milli AS BIGINT) AS acc_milli,
        |  CAST(gap_milli AS BIGINT) AS gap_milli,
        |  CAST(gsum // nt AS BIGINT) AS ece_milli
        |FROM g, tot ORDER BY bin""".stripMargin,
    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, length(text) AS n, substr(text, i, 1) AS ch
        |  FROM documents, unnest(range(1, length(text) + 1)) AS r(i)
        |  WHERE length(text) > 0),
        |pc AS (SELECT doc_id, n, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2, 3),
        |term AS (
        |  SELECT doc_id, n,
        |    CAST(round((-(CAST(c AS DOUBLE) / n)) *
        |      ln(CAST(c AS DOUBLE) / n) * 1000000.0, 0) AS BIGINT) AS term_u
        |  FROM pc),
        |agg AS (
        |  SELECT doc_id, n, COUNT(*) AS n_unique_chars,
        |    SUM(term_u) AS entropy_micro
        |  FROM term GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_chars_text,
        |  CAST(coalesce(n_unique_chars, 0) AS BIGINT) AS n_unique_chars,
        |  CAST(coalesce(entropy_micro, 0) AS BIGINT) AS entropy_micro
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_sample_weighted" ->
      """WITH h AS (
        |  SELECT doc_id, source, n_chars, list_reduce(
        |    list_prepend(2166136261::BIGINT,
        |      list_transform(range(1, length(text) + 1),
        |        i -> ord(substr(text, i, 1))::BIGINT)),
        |    (acc, b) -> (xor(acc, b) * 16777619) % 4294967296) AS hu
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE WHEN hu >= 2147483648 THEN hu - 4294967296 ELSE hu END AS hs
        |  FROM h),
        |k AS (
        |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS w,
        |    CAST(round(
        |      ln((CAST(CASE WHEN hs < 0 THEN -hs ELSE hs END AS DOUBLE)
        |        + 0.5) / 2147483648.0) / CAST(n_chars AS DOUBLE)
        |      * 1000000000.0, 0) AS BIGINT) AS key_nano
        |  FROM s)
        |SELECT doc_id, source, w, key_nano FROM k
        |ORDER BY key_nano DESC, doc_id LIMIT 50""".stripMargin,
    "q_heavy_hitters" ->
      """WITH cnt AS (
        |  SELECT tok, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |tot AS (SELECT SUM(cnt) AS total FROM cnt)
        |SELECT tok, CAST(cnt AS BIGINT) AS cnt
        |FROM cnt CROSS JOIN tot
        |WHERE cnt * 29 > total
        |ORDER BY cnt DESC, tok""".stripMargin,
    "q_keyness" ->
      """WITH st AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |a AS (SELECT source, tok, COUNT(*) AS a FROM st GROUP BY 1, 2),
        |tt AS (SELECT tok, SUM(a) AS t FROM a GROUP BY 1),
        |s1 AS (SELECT source, SUM(a) AS n1 FROM a GROUP BY 1),
        |g AS (SELECT SUM(n1) AS nn FROM s1),
        |k AS (
        |  SELECT source, tok, a, t - a AS b,
        |    a * ln(CAST(a AS DOUBLE) * nn / (CAST(n1 AS DOUBLE) * t))
        |      AS term_a,
        |    CASE WHEN t - a > 0 THEN (t - a) *
        |      ln(CAST(t - a AS DOUBLE) * nn / (CAST(nn - n1 AS DOUBLE) * t))
        |      ELSE 0.0 END AS term_b
        |  FROM a JOIN tt USING (tok) JOIN s1 USING (source) CROSS JOIN g
        |  WHERE a >= 5 AND CAST(a AS HUGEINT) * (nn - n1) >
        |    CAST(t - a AS HUGEINT) * n1),
        |r AS (
        |  SELECT source, tok, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |    CAST(round((term_a + term_b) * 2000000.0, 0) AS BIGINT)
        |      AS g2_micro
        |  FROM k)
        |SELECT source, rnk, tok, a, b, g2_micro FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY g2_micro DESC, tok) AS BIGINT) AS rnk
        |  FROM r)
        |WHERE rnk <= 20
        |ORDER BY source, rnk""".stripMargin,
    "q_decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(string_split(text, ' ')) - 3),
        |        i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))) AS g
        |    FROM documents)),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 40 = 0),
        |bad AS (
        |  SELECT DISTINCT doc_id FROM sh
        |  WHERE doc_id % 40 <> 0 AND g IN (SELECT g FROM ev))
        |SELECT d.doc_id,
        |  d.doc_id IN (SELECT doc_id FROM bad) AS contaminated
        |FROM documents d WHERE d.doc_id % 40 <> 0
        |ORDER BY d.doc_id""".stripMargin,
    "q_novelty" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |        i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS g
        |    FROM documents)),
        |ref AS (SELECT DISTINCT g FROM sh WHERE doc_id % 25 = 0),
        |tr AS (SELECT doc_id, g FROM sh WHERE doc_id % 25 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
        |kn AS (
        |  SELECT doc_id, COUNT(*) AS n_known FROM tr
        |  WHERE g IN (SELECT g FROM ref) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(n_known, 0) AS BIGINT) AS n_known,
        |  CASE WHEN n_shingles > 0 THEN
        |    CAST(floor((1.0 - CAST(coalesce(n_known, 0) AS DOUBLE) /
        |      n_shingles) * 1000000.0) AS BIGINT) END AS novelty_micro
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 25 <> 0) d
        |LEFT JOIN tot USING (doc_id)
        |LEFT JOIN kn USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)
}
