package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Boilerplate, Bpe, Dedup, LmScore, PairCounts,
  Profile, Vocab}
import graft.functions.{TextFunctions => T}

/** Corpus-curation operators, round 4: tokenizer-training pair statistics
  * (the counting step of BPE), per-column dataset profiling (the data-card /
  * ingest-validation report), and incremental NEAR-dedup (nightly batch vs
  * seen store — the near-dup twin of q_dedup_incremental). All three carry
  * full DuckDB oracles.
  */
object CurateOps extends QueryFamily {

  /** q_bpe_pairs — BPE merge statistics: adjacent character-pair counts over
    * the whitespace vocabulary, weighted by word frequency; top-50 by
    * (count desc, pair). The corpus-touching half of tokenizer training —
    * see Vocab.bpePairCounts for why the pair aggregate runs over word
    * TYPES, not tokens. */
  def qBpePairs(s: SparkSession, dir: String): DataFrame =
    Vocab.bpePairCounts(Tables.documents(s, dir), "text", topK = 50)

  /** q_profile — per-column dataset profile of `orders`: row/null/exact
    * distinct counts + min/max (numeric as double, timestamp pinned to an
    * explicit format). One single-column aggregate branch per column,
    * unioned — each branch reads exactly one parquet column. */
  def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.columnProfile(Tables.orders(s, dir), Seq(
        "o_orderkey" -> Profile.Num,
        "o_custkey" -> Profile.Num,
        "o_orderstatus" -> Profile.Str,
        "o_totalprice" -> Profile.Num,
        "o_orderdate" -> Profile.Ts,
        "o_orderpriority" -> Profile.Str))
      .orderBy("col_name")

  /** q_dedup_incr_near — incremental near-dedup: odd doc_ids are tonight's
    * batch, even doc_ids the already-ingested store; every batch document is
    * flagged novel or paired with its closest store near-duplicate
    * (md5-banded MinHash candidates batch×store only, exact Jaccard ≤ 0.5,
    * ties to the lowest store id). Like q_dedup_near_md5 the hash family is
    * algorithm-defined, so candidate recall itself is oracle-checked. */
  def qDedupIncrNear(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Dedup.incrementalNear(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", maxDistance = 0.5)
      .orderBy("doc_id")
  }

  /** q_boilerplate — line-level boilerplate strip (the CCNet/RefinedWeb
    * repeated-line removal). The corpus has single-line texts, so the query
    * assembles deterministic multi-line "pages" in-query — same discipline
    * as the synthetic media containers: per-source NAV/COPYRIGHT lines
    * (shared by every doc of a source), a PROMO line on every 5th doc
    * (repeated but sparser), and a PAIR line shared by exactly two docs
    * (must survive: df = 2 < minDf = 3) around the unique prose line. The
    * oracle rebuilds the same pages and recomputes df/strip/reassembly
    * independently, so the whole operator — df counting, threshold,
    * anti-join, position-ordered reassembly — is hash-checked. */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("NAV "), col("source"), lit("\n"),
      when(col("doc_id") % 5 === 0,
        concat(lit("PROMO "), col("source"), lit("\n"))).otherwise(lit("")),
      lit("PAIR "), floor(col("doc_id") / 2).cast("long").cast("string"), lit("\n"),
      col("text"), lit("\n"),
      lit("COPYRIGHT "), col("source"))
    Boilerplate.strip(
        Tables.documents(s, dir).withColumn("page", page),
        "page", "doc_id", "source", minDf = 3)
      .orderBy("doc_id")
  }

  /** q_bpe_train — FULL iterative BPE tokenizer training (the loop
    * q_bpe_pairs only measures one round of): 16 Sennrich merge rounds
    * over the word-type vocabulary, single-char private-alphabet symbols
    * so the merge rewrite is a plain `replace` with identical semantics in
    * both engines — an ITERATIVE distributed algorithm whose every round
    * is cross-engine hash-checked (the oracle unrolls the same 16 rounds;
    * 8 until r13, doubled per the r13 verdict's stretch while the
    * bounded-unroll contract still holds). */
  def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    Bpe.train(Tables.documents(s, dir), "text", nMerges = 16)
      .orderBy("merge_rank")

  /** q_bpe_encode — encode the corpus with the 16-merge vocabulary: the
    * final vocab's `sym` IS each word type's encoding, so corpus encoding
    * is one broadcast join + a doc-keyed aggregate (words, chars, subword
    * counts) — the compression-ratio report of tokenizer training. */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    // Tables.parallel MEASURED AND REJECTED here (optimization r15):
    // 7-pair A/B median 1.04x (0.82–1.20) — the BPE chain is dominated
    // by the 16 merge rounds over the (small) word-vocab table, not the
    // scan, so the extra exchange buys nothing.
    val docs = Tables.documents(s, dir)
    val (_, vocab) = Bpe.trainVocab(docs, "text", nMerges = 16)
    Bpe.encode(docs, "text", "doc_id", vocab).orderBy("doc_id")
  }

  /** q_tok_fertility — tokenizer fertility per language: subwords per
    * word and chars per subword (milli) under the corpus-trained 16-merge
    * BPE — the multilingual-pipeline budget metric (a language with 2×
    * fertility costs 2× the context window per word; the number that
    * decides vocab size and per-language sampling). Reuses the
    * oracle-checked train+encode chain; the rollup is one lang-keyed
    * aggregate over per-doc counts with integral-milli division. */
  def qTokFertility(s: SparkSession, dir: String): DataFrame = {
    // Tables.parallel measured and rejected (see q_bpe_encode): 7-pair
    // median 0.91x but 0.78–1.37 spread — noise, same merge-round-bound
    // chain.
    val docs = Tables.documents(s, dir)
    val (_, vocab) = Bpe.trainVocab(docs, "text", nMerges = 16)
    docs.select("doc_id", "lang")
      .join(Bpe.encode(docs, "text", "doc_id", vocab), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_subwords").as("n_subwords"),
        sum("n_chars").as("ch"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        expr("(1000 * CAST(n_subwords AS DECIMAL(38,0))) div n_words")
          .cast("long").as("subwords_per_word_milli"),
        expr("(1000 * CAST(ch AS DECIMAL(38,0))) div n_subwords")
          .cast("long").as("chars_per_subword_milli"))
      .orderBy("lang")
  }

  /** q_readability — Flesch reading-ease per document (Flesch 1948):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * sentences = non-empty [.!?]-separated spans (min 1) and syllables
    * approximated as vowel groups — the standard cheap proxy. The classic
    * prose-quality feature beside the length/punct/stopword ratios of
    * q_quality_score. All inputs are exact integer counts; the formula is
    * ONE mirrored double expression rounded to milli, so the score is
    * cross-engine exact. One narrow projection, no shuffle. (This corpus
    * is unpunctuated word soup — every doc lands in one sentence — so
    * the sentence-split mechanics are additionally fixture-tested in
    * CurateOpsSpec.) */
  def qReadability(s: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(s, dir)).orderBy("doc_id")

  /** The readability projection over any (doc_id, text) frame — public so
    * CurateOpsSpec can exercise real sentence splits on punctuated
    * fixtures (the corpus itself is unpunctuated). */
  def readability(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        T.tokenCount(col("text")).as("n_words"),
        greatest(lit(1L), size(filter(split(col("text"), "[.!?]+"),
          x => length(trim(x)) > 0)).cast("long")).as("n_sentences"),
        regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("long")
          .as("n_syllables"))
      .withColumn("flesch_milli",
        when(col("n_words") > 0,
          round((lit(206.835)
            - lit(1.015) * col("n_words") / col("n_sentences")
            - lit(84.6) * col("n_syllables") / col("n_words")) * 1000.0, 0)
            .cast("long")))

  /** q_skew_profile — key-skew diagnostics over the event stream's user
    * key: the top-20 hottest keys with count, rank, per-mille share and a
    * hot flag (count > 10× the mean, int64 cross-multiplied). The
    * measurement that decides the engine's OWN skew machinery — a key
    * flagged here is what q_agg_salted / q_join_salted exist for; at
    * 100 TB this runs (on a sample) before picking salt counts.
    * Full-oracle. */
  def qSkewProfile(s: SparkSession, dir: String): DataFrame =
    Profile.keySkew(Tables.events(s, dir), "user_id", topN = 20)
      .orderBy("rnk")

  /** q_ppjoin — exact set-similarity self-join: documents as DISTINCT
    * word-bigram sets, the pairs with Jaccard ≥ 0.8 as integers
    * (da, db, inter, jacc_ppm). It is the shared pair-count operator
    * behind `Dedup.ngramJaccardPairs` (n = 2, unguarded, Jaccard ≥ 0.8):
    * the one-task kernel up to the cap, above it the PPJoin/AllPairs
    * prefix join with its length and positional filters
    * (`PairCounts.pairCountsPrefix`). The tail here is integer:
    * jacc_ppm = (10⁶·i) div (ca + cb − i) ≥ 800000, which is 5i ≥ 4u;
    * such a pair also has i/u ≥ 0.8 in double (rounding is monotone), so
    * the operator keeps every row this filter keeps. Bigrams compare as
    * 64-bit hashes, not strings: `Dedup.shingleKeys` states the collision
    * posture. The oracle is the plain all-pairs join on strings, so a hash
    * match proves the blocking loses nothing. */
  def qPpjoin(s: SparkSession, dir: String): DataFrame =
    Dedup.shinglePairs(Tables.documents(s, dir), "text", "doc_id", 2,
        Long.MaxValue, None, PairCounts.PairTail.Jaccard(0.8, counts = true))
      .select(col("a_id").as("da"), col("b_id").as("db"),
        col("i").as("inter"),
        expr("(1000000 * i) div (ca + cb - i)").as("jacc_ppm"))
      .filter(col("jacc_ppm") >= 800000)
      .orderBy("da", "db")

  /** q_ppl_filter — perplexity-band curation (the CCNet/Wikipedia-LM
    * recipe): score every document under the q_kn_bigram Kneser–Ney LM
    * (trained on the doc_id % 10 == 0 reference slice), then per source
    * keep the middle band [p25, p75] of cross-entropy — too-predictable
    * text is boilerplate, too-surprising is noise/garble. Band bounds by
    * RANK over a (ce, doc_id) total order (type-1 quantiles — exact
    * position selection, no interpolated-percentile float risk), computed
    * with the [[graft.operators.Ranks]] two-phase discipline: a whole
    * source never rides one rank-window task — quarter-nat ce bands
    * aggregate map-side, only the two straddling buckets per source are
    * ranked, and the picked bounds broadcast onto the band count. Shape:
    * the LM score is vocabulary-bounded joins; the corpus-sized table is
    * touched by one bucket aggregate, one broadcast-pruned pick window,
    * and the final source-keyed aggregate. */
  def qPplFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = graft.operators.LmScore.knBigramCrossEntropy(
        docs.select("doc_id", "text"),
        docs.filter(col("doc_id") % 10 === 0), "text", "doc_id")
      .select("doc_id", "ce_micro")
      .filter(col("ce_micro").isNotNull)
    val j = docs.select("doc_id", "source").join(scored, "doc_id")
      .localCheckpoint(eager = false) // feeds offsets, picks + band count
    val bounds = graft.operators.Ranks.percentileBounds(j, Seq("source"),
      expr("ce_micro div 250000"), Seq(col("ce_micro"), col("doc_id")),
      "ce_micro", 25, 75, "lo_ce_micro", "hi_ce_micro")
    j.join(broadcast(bounds), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        max("lo_ce_micro").as("lo_ce_micro"),
        max("hi_ce_micro").as("hi_ce_micro"),
        sum(when(col("ce_micro").between(
          col("lo_ce_micro"), col("hi_ce_micro")), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy("source")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ppl_filter" -> (qPplFilter _),
    "q_ppjoin" -> (qPpjoin _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_profile" -> (qProfile _),
    "q_dedup_incr_near" -> (qDedupIncrNear _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_tok_fertility" -> (qTokFertility _),
    "q_readability" -> (qReadability _),
    "q_skew_profile" -> (qSkewProfile _))

  override val oracle: Map[String, String] = Map(
    // Perplexity band: the shared KN per-doc CTE chain (one generator with
    // q_kn_bigram so the LM arithmetic can never drift), then rank-based
    // p25/p75 band bounds per source.
    "q_ppl_filter" ->
      s"""WITH ${LmScore.knPerDocOracleCtes},
        |ce AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(nll_micro // n_bigrams AS BIGINT) AS ce_micro
        |  FROM documents d JOIN per USING (doc_id) WHERE n_bigrams > 0),
        |rk AS (
        |  SELECT source, doc_id, ce_micro,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY ce_micro, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM ce),
        |bd AS (
        |  SELECT source,
        |    MAX(CASE WHEN rn = GREATEST(1,
        |      CAST(ceil(25 * n / 100.0) AS BIGINT)) THEN ce_micro END)
        |      AS lo_ce_micro,
        |    MAX(CASE WHEN rn = GREATEST(1,
        |      CAST(ceil(75 * n / 100.0) AS BIGINT)) THEN ce_micro END)
        |      AS hi_ce_micro
        |  FROM rk GROUP BY source)
        |SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_total,
        |  MAX(lo_ce_micro) AS lo_ce_micro, MAX(hi_ce_micro) AS hi_ce_micro,
        |  CAST(SUM(CASE WHEN ce_micro BETWEEN lo_ce_micro AND hi_ce_micro
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM rk r JOIN bd USING (source)
        |GROUP BY r.source ORDER BY source""".stripMargin,
    // The oracle is the EXACT all-pairs join — no prefix filter — so a
    // hash match proves the blocking loses nothing (100% recall).
    "q_ppjoin" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, g AS tok FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(string_split(text,' '))),
        |        i -> array_to_string((string_split(text,' '))[i:i+1], ' ')))
        |        AS g
        |    FROM documents)),
        |sz AS (SELECT doc_id, COUNT(*) AS m FROM td GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        |  FROM td a JOIN td b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT da, db, CAST(inter AS BIGINT) AS inter,
        |    CAST((1000000 * CAST(inter AS HUGEINT)) //
        |      (sa.m + sb.m - inter) AS BIGINT) AS jacc_ppm
        |  FROM inter JOIN sz sa ON da = sa.doc_id
        |  JOIN sz sb ON db = sb.doc_id)
        |SELECT da, db, inter, jacc_ppm FROM j
        |WHERE jacc_ppm >= 800000 ORDER BY da, db""".stripMargin,
    "q_skew_profile" ->
      """WITH c AS (SELECT user_id AS key, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |  COUNT(*) AS n_keys FROM c),
        |t AS (SELECT key, n, n_total, n_keys FROM c, s
        |  ORDER BY n DESC, key LIMIT 20)
        |SELECT key, n, n_total, n_keys,
        |  CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rnk,
        |  n * 1000 // n_total AS pm,
        |  n * n_keys > n_total * 10 AS hot
        |FROM t ORDER BY rnk""".stripMargin,
    "q_bpe_train" -> Bpe.trainOracleSql(16),
    "q_bpe_encode" -> Bpe.encodeOracleSql(16),
    "q_tok_fertility" -> Bpe.fertilityOracleSql(16),
    "q_readability" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  GREATEST(1, CAST(len(list_filter(regexp_split_to_array(text,
        |    '[.!?]+'), x -> trim(x) <> '')) AS BIGINT)) AS n_sentences,
        |  CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
        |    AS n_syllables,
        |  CASE WHEN len(string_split(text, ' ')) > 0 THEN
        |    CAST(round((206.835
        |      - 1.015 * CAST(len(string_split(text, ' ')) AS DOUBLE)
        |        / GREATEST(1, len(list_filter(regexp_split_to_array(text,
        |            '[.!?]+'), x -> trim(x) <> '')))
        |      - 84.6 * CAST(len(regexp_extract_all(text,
        |            '[aeiouyAEIOUY]+')) AS DOUBLE)
        |        / len(string_split(text, ' '))) * 1000.0) AS BIGINT)
        |  END AS flesch_milli
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_boilerplate" ->
      """WITH pages AS (
        |  SELECT doc_id, source,
        |    'NAV ' || source || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0 THEN 'PROMO ' || source || chr(10) ELSE '' END ||
        |    'PAIR ' || CAST(doc_id // 2 AS VARCHAR) || chr(10) ||
        |    text || chr(10) ||
        |    'COPYRIGHT ' || source AS page
        |  FROM documents WHERE text IS NOT NULL),
        |ls AS (SELECT doc_id, source, string_split(page, chr(10)) AS lines FROM pages),
        |l AS (SELECT doc_id, source, i AS pos, lines[CAST(i AS INT)] AS line
        |      FROM ls, unnest(range(1, len(lines) + 1)) AS u(i)),
        |hot AS (SELECT source, line FROM l GROUP BY source, line
        |        HAVING COUNT(DISTINCT doc_id) >= 3),
        |kept AS (SELECT l.doc_id, l.pos, l.line FROM l
        |         WHERE NOT EXISTS (SELECT 1 FROM hot
        |                           WHERE hot.source = l.source AND hot.line = l.line)),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines FROM l GROUP BY doc_id),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |               md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines, a.n_kept, a.clean_md5
        |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |pairs AS (
        |  SELECT substring(w, i, 2) AS pair, freq, w
        |  FROM words, unnest(range(1, length(w))) AS u(i)
        |  WHERE length(w) >= 2)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt,
        |  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
        |FROM pairs GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    "q_profile" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
        |    CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
        |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*),
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
        |    NULL, NULL
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*),
        |    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT o_orderstatus), NULL, NULL,
        |    MIN(o_orderstatus), MAX(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*),
        |    SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT o_totalprice),
        |    MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*),
        |    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT o_orderdate), NULL, NULL,
        |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*),
        |    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT o_orderpriority), NULL, NULL,
        |    MIN(o_orderpriority), MAX(o_orderpriority)
        |  FROM orders)
        |SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_nulls AS BIGINT) AS n_nulls,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  min_num, max_num, min_str, max_str
        |FROM p ORDER BY col_name""".stripMargin,
    "q_dedup_incr_near" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS gs
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |mh AS (
        |  SELECT doc_id, gs, [
        |    list_aggregate(list_transform(gs, g -> md5('0|' || g)), 'min') || '|' ||
        |      list_aggregate(list_transform(gs, g -> md5('1|' || g)), 'min'),
        |    list_aggregate(list_transform(gs, g -> md5('2|' || g)), 'min') || '|' ||
        |      list_aggregate(list_transform(gs, g -> md5('3|' || g)), 'min'),
        |    list_aggregate(list_transform(gs, g -> md5('4|' || g)), 'min') || '|' ||
        |      list_aggregate(list_transform(gs, g -> md5('5|' || g)), 'min'),
        |    list_aggregate(list_transform(gs, g -> md5('6|' || g)), 'min') || '|' ||
        |      list_aggregate(list_transform(gs, g -> md5('7|' || g)), 'min')
        |  ] AS keys
        |  FROM docs),
        |bands AS (
        |  SELECT doc_id, unnest(range(0, 4)) AS band, unnest(keys) AS key
        |  FROM mh),
        |cand AS (
        |  SELECT DISTINCT b.doc_id AS b_doc, s.doc_id AS s_doc
        |  FROM bands b JOIN bands s ON b.band = s.band AND b.key = s.key
        |  WHERE b.doc_id % 2 = 1 AND s.doc_id % 2 = 0),
        |ver AS (
        |  SELECT b_doc, s_doc,
        |    round(1.0 - CAST(len(list_intersect(db.gs, ds.gs)) AS DOUBLE) /
        |      len(list_distinct(list_concat(db.gs, ds.gs))), 6) AS dist
        |  FROM cand
        |  JOIN docs db ON b_doc = db.doc_id
        |  JOIN docs ds ON s_doc = ds.doc_id),
        |best AS (
        |  SELECT b_doc, s_doc, dist,
        |    ROW_NUMBER() OVER (PARTITION BY b_doc ORDER BY dist, s_doc) AS rn
        |  FROM ver WHERE dist <= 0.5)
        |SELECT d.doc_id, best.s_doc AS near_store_id, best.dist AS dist,
        |  best.s_doc IS NULL AS is_novel
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) best
        |  ON d.doc_id = best.b_doc
        |ORDER BY d.doc_id""".stripMargin)
}
