package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{UrlOps, Vocab, Winnow}

/** Round-6 corpus-governance operators: winnowing fingerprints (guaranteed-
  * recall overlap detection), corpus-drift statistics (Zipf fit, Jensen-
  * Shannon divergence), and URL-canonicalization dedup. Oracle discipline
  * as everywhere: md5 hash family for anything an independent engine must
  * reproduce, integer micro/pico-unit quantization before any float
  * aggregate, total-order sorts.
  */
object DriftOps extends QueryFamily {

  /** q_winnow — winnowing (MOSS) fingerprints of every document: 3-gram
    * hashes thinned by the window-minimum rule (w = 4), giving the
    * guarantee that any 6-token shared run between two documents produces
    * at least one shared fingerprint. */
  def qWinnow(s: SparkSession, dir: String): DataFrame =
    Winnow.fingerprints(Tables.documents(s, dir), "text", "doc_id",
        k = 3, w = 4)
      .withColumnRenamed("doc", "doc_id")
      .orderBy("doc_id", "fp_pos", "fp_hash")

  /** q_winnow_pairs — document pairs sharing ≥ 2 winnowing fingerprint
    * hashes (df-guarded: fingerprints in > 10 documents are boilerplate and
    * excluded) — the guaranteed-recall overlap candidate generator. */
  def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    // Tables.parallel (optimization r15, guide §2.5): k-gram hashing +
    // the winnowing window fold ride the single-split scan; shared-
    // fingerprint pair counts are order-immune, orderBy a total order.
    Winnow.sharedFingerprintPairs(Tables.parallel(Tables.documents(s, dir)),
        "text", "doc_id",
        k = 3, w = 4, minShared = 2L, maxDf = 10L)
      .orderBy("a_id", "b_id")

  /** q_zipf_slope — per-source Zipf-law fit: least-squares slope of
    * ln(freq) vs ln(rank) over the top-100 tokens. Natural text ≈ −1;
    * drift toward 0 flags templated sources, steeper flags degenerate
    * repetition. */
  def qZipfSlope(s: SparkSession, dir: String): DataFrame =
    Vocab.zipfSlope(Tables.documents(s, dir), "text", "source", topK = 100)
      .orderBy("source")

  /** q_heaps_law — per-source Heaps'-law vocabulary-growth fit (the Zipf
    * dual): β = OLS slope of ln(distinct types) on ln(tokens) over 10
    * evenly-spaced document checkpoints in ascending doc_id order. Natural
    * text β ≈ 0.4–0.6; β → 1 flags unbounded noise vocabularies, β → 0
    * templated sources — and a dedup pass that worked shows as a β drop.
    * See [[graft.operators.Vocab.heapsLaw]]. */
  def qHeapsLaw(s: SparkSession, dir: String): DataFrame =
    Vocab.heapsLaw(Tables.documents(s, dir), "text", "doc_id", "source")
      .orderBy("source")

  /** q_js_divergence — Jensen–Shannon divergence between every unordered
    * pair of sources' unigram distributions: the bounded corpus-drift
    * distance (0 = identical, ln 2 = disjoint). */
  def qJsDivergence(s: SparkSession, dir: String): DataFrame =
    Vocab.jsDivergence(Tables.documents(s, dir), "text", "source")
      .orderBy("source_lo", "source_hi")

  /** q_url_dedup — URL-canonicalization dedup over a deterministic noisy
    * URL per document (case-varied host/scheme, explicit :443, tracking
    * params, shuffled param order, fragments, trailing slash — each keyed
    * to doc_id residues so both engines build identical inputs). Documents
    * sharing (source, doc_id mod 20) collapse to one canonical URL; the
    * lowest doc_id is the keeper. */
  def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val host0 = concat(lit("www."), col("source"), lit(".example.com"))
    val url = concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTPS://"))
        .otherwise(lit("https://")),
      when(pmod(col("doc_id"), lit(2)) === 0, upper(host0)).otherwise(host0),
      when(pmod(col("doc_id"), lit(3)) === 0, lit(":443")).otherwise(lit("")),
      lit("/page/"), pmod(col("doc_id"), lit(20)).cast("string"),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("?b=2&a=1"))
        .otherwise(lit("?a=1&b=2")),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("&utm_source=feed&ref=search"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("#sec2")).otherwise(lit("")))
    UrlOps.dedupByUrl(
        Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
        "url", "doc_id")
      .select(col("doc_id"), col("canon_url"), col("is_canonical"))
      .orderBy("doc_id")
  }

  /** The ONE deterministic pair of snapshot views the governance queries
    * diff: old = doc_id % 7 ≠ 0, new = doc_id % 10 ≠ 0 with doc_id % 13 = 0
    * texts edited. Shared by q_snapshot_diff and q_profile_drift (and
    * mirrored ONCE in [[snapshotViewCtes]] for their oracles) so the view
    * definition cannot silently diverge between the two gates. */
  private def snapshotViews(docs: DataFrame): (DataFrame, DataFrame) = {
    val oldV = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
    val newV = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(13)) === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    (oldV, newV)
  }

  /** The DuckDB twin of [[snapshotViews]] — prepended to both consumers'
    * oracle SQL. */
  private val snapshotViewCtes: String =
    """WITH ov AS (
      |  SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0),
      |nv AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text,
      |    source
      |  FROM documents WHERE doc_id % 10 <> 0)""".stripMargin

  /** q_snapshot_diff — corpus-version diff (added / removed / changed /
    * unchanged by content digest) between the [[snapshotViews]] pair — the
    * nightly data-governance report. */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val (oldV, newV) = snapshotViews(Tables.documents(s, dir))
    graft.operators.Layout.snapshotDiff(oldV, newV, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** q_curriculum — curriculum data ordering: decile bucket by token count
    * (the classic short→long curriculum) + deterministic seeded-md5
    * shuffle position within each bucket. Broadcast percentile boundaries,
    * never a global ntile sort. */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => T}
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("score"))
    graft.operators.Packing.curriculumOrder(scored, "score", "doc_id",
        nBuckets = 10)
      .orderBy("doc_id")
  }

  /** q_pagerank — weighted PageRank over the event-type transition graph
    * (q_transitions' per-user transition counts,
    * [[CorpusOps.eventTransitions]]): which states the session
    * flow concentrates into. 10 rounds of integer-micro-unit iteration —
    * bit-reproduced by the unrolled DuckDB oracle, a full cross-engine
    * check of an ITERATIVE algorithm. Up to the one-task cap both the
    * transition counts and all rounds run in one task each, so the query
    * runs 3 Spark jobs and no shuffle. */
  def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val e = CorpusOps.eventTransitions(s, dir)
    graft.operators.Clusters.pageRankWeighted(e, "s0", "s1", "n",
        iterations = 10)
      .orderBy("node")
  }

  /** q_agg_merge — incremental materialized-view maintenance: the lineitem
    * return-flag/status rollup split into a base slice (l_orderkey % 5 ≠ 0,
    * pre-aggregated) and a delta batch (l_orderkey % 5 = 0, aggregated
    * fresh), merged by partial-aggregate algebra. The oracle aggregates the
    * WHOLE table from scratch — the merge must be indistinguishable. */
  def qAggMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    // decimal-exact sums (the established float-order-immunity posture);
    // ONE projection shared by base and delta so their partials agree
    val li = Tables.lineitem(s, dir)
      .withColumn("qty", col("l_quantity").cast("decimal(18,2)"))
    val keys = Seq("l_returnflag", "l_linestatus")
    val base = Layout.partialAgg(
      li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0), keys, "qty")
    val delta = Layout.partialAgg(
      li.filter(pmod(col("l_orderkey"), lit(5)) === 0), keys, "qty")
    Layout.mergePartialAggs(base, delta, keys)
      .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
        col("total").cast("double").as("sum_qty"),
        round(col("total").cast("double") / col("cnt"), 6).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q_tokenize_ids — corpus → token-id encoding against the corpus's own
    * top-20 vocabulary (rank = id, 0 = OOV): the final cleaned-corpus →
    * dataloader step, ids serialized as canonical JSON per document. */
  def qTokenizeIds(s: SparkSession, dir: String): DataFrame =
    Vocab.encodeIds(Tables.documents(s, dir), "text", "doc_id",
        vocabSize = 20)
      .orderBy("doc_id")

  /** q_cdc_chunks — content-defined chunking dedup stats: Rabin-style
    * token-level cut points (md5 hex prefix '0', ~16-token chunks), chunk
    * digests aggregated corpus-wide, duplicated chunks reported. The
    * chunk-level storage-dedup view exact whole-doc dedup cannot see. */
  def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.cdcChunks(Tables.documents(s, dir), "text",
        "doc_id")
      .groupBy("chunk_digest")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("n_chunk_tokens").as("n_tokens"))
      .filter(col("n_occurrences") > 1)
      .orderBy(desc("n_occurrences"), col("chunk_digest"))

  /** q_json_quarantine — dead-letter routing for schema-on-read decode:
    * events with doc-id-keyed deterministic corruption appended are parsed
    * PERMISSIVE; malformed payloads quarantine (count per type) instead of
    * failing the job — the bad-record posture every 100 TB ingest needs
    * (one corrupt record must never kill a 6-hour pipeline). */
  def qJsonQuarantine(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      // corruption is PREPENDED: Jackson tolerates trailing garbage after
      // a complete object, so an appended brace would not quarantine
      .withColumn("props2",
        when(pmod(col("event_id"), lit(11)) === 0,
          concat(lit("{"), col("props"))).otherwise(col("props")))
      .withColumn("parsed",
        from_json(col("props2"), "map<string,string>",
          Map.empty[String, String]))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("parsed").isNotNull, 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("parsed").isNull, 1L).otherwise(0L))
          .as("n_quarantined"))
      .orderBy("event_type")

  /** q_frame_dedup — frame-level dedup across multimodal payloads: the
    * byte-window "frames" of every payload (`Multimodal.sampleFrames`, the
    * video→frames explode with a stubbed codec) are content-digested and
    * duplicated frames reported corpus-wide — near-identical media shares
    * frames even when whole-payload digests differ. The oracle frames the
    * text column at the same offsets (the payload IS the UTF-8 text bytes,
    * and the corpus is ASCII, so byte and char windows coincide — asserted
    * by the hash match itself). */
  def qFrameDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val frames = Multimodal.sampleFrames(
      Multimodal.withPayload(Tables.documents(s, dir), "text"),
      frameBytes = 16, stride = 4)
    frames
      .select(col("doc_id"), md5(col("frame_bytes")).as("frame_digest"))
      .groupBy("frame_digest")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") > 1)
      .orderBy(desc("n_occurrences"), col("frame_digest"))
  }

  /** q_profile_drift — the data-card diff between the [[snapshotViews]]
    * pair: per column, old vs new row/null/distinct counts, deltas, the
    * >10% cardinality-drift flag AND the >5-point null-ratio-drift flag —
    * the nightly ingest gate that catches schema/content regressions before
    * the corpus ships. */
  def qProfileDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profile
    val (oldV, newV) = snapshotViews(Tables.documents(s, dir))
    Profile.profileDrift(oldV, newV,
        Seq(("doc_id", Profile.Num), ("text", Profile.Str),
          ("source", Profile.Str)))
      .orderBy("col_name")
  }

  /** q_dedup_cdc — near-dup candidate pairs from shared content-defined
    * chunks: documents sharing ≥ 2 CDC chunk digests (chunks in > 10 docs
    * are boilerplate, df-guarded out). Because CDC boundaries REALIGN after
    * an insertion, this catches shifted near-duplicates that position-
    * aligned frame/window comparison structurally misses — the third
    * candidate mechanism beside MinHash banding (probabilistic) and
    * winnowing (positional selection). */
  def qDedupCdc(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Packing
      .cdcChunks(Tables.documents(s, dir), "text", "doc_id")
      .filter(col("n_chunk_tokens") >= 4) // tiny chunks carry no signal
      .select(col("doc_id"), col("chunk_digest")).distinct()
      .localCheckpoint(eager = false)
    val hot = chunks.groupBy("chunk_digest")
      .agg(count(lit(1)).as("df")).filter(col("df") > 10)
      .select("chunk_digest")
    val kept = chunks.join(broadcast(hot), Seq("chunk_digest"), "left_anti")
    kept.select(col("doc_id").as("a_id"), col("chunk_digest"))
      .join(kept.select(col("doc_id").as("b_id"), col("chunk_digest")),
        "chunk_digest")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("a_id", "b_id")
  }

  /** q_kanon — k-anonymous release of the (lang, source) count table:
    * groups under k = 5 members collapse into one '*'-bucket (minimum-
    * cell-size disclosure control) instead of isolating small
    * populations. Full-oracle. */
  def qKanon(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.kAnonCounts(
        Tables.documents(s, dir), Seq("lang", "source"), k = 5L)
      .orderBy("lang", "source")

  /** q_dp_counts — ε-DP Laplace count release over (lang, source) with
    * PRF-derived per-(seed, group, release-tag) noise: the third
    * governance mode beside q_kanon's suppression and q_ldiv's diversity
    * floor — publish EVERY group, hide individuals in calibrated noise.
    * ε = 1, release tag "r9" (a new tag = a new draw = a new privacy
    * charge). The seed here is FIXED AND VISIBLE so the DuckDB oracle can
    * reproduce the draw — this registration is a correctness harness, not
    * a private release; production callers must keep the seed secret (see
    * [[graft.operators.Profile.dpCounts]]'s privacy contract). */
  def qDpCounts(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.dpCounts(Tables.documents(s, dir),
        Seq("lang", "source"), epsilon = 1.0, releaseTag = "r9",
        secretSeed = "graft-test-seed")
      .orderBy("lang", "source")

  /** q_ldiv — l-diversity release over (lang, size-bucket) quasi groups
    * with `source` as the sensitive attribute (k=5, l=2): k-anonymity's
    * homogeneity-attack fix — a big-enough group whose members all come
    * from ONE source still reveals it. The governance sibling of q_kanon;
    * see [[graft.operators.Profile.lDiversityCounts]]. */
  def qLdiv(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.lDiversityCounts(
        Tables.documents(s, dir)
          .withColumn("size_kb", expr("n_chars div 1000")),
        Seq("lang", "size_kb"), "source", k = 5L, l = 2L)
      .orderBy("lang", "size_kb")

  /** q_dedup_priority — exact dedup with a source-priority keep rule:
    * among content duplicates the copy from the earliest source in the
    * priority list wins (unlisted sources last, id tiebreak) — "keep the
    * curated mirror, drop the crawl". Emits every row with its group size
    * and keep decision so the drop set is auditable. Full-oracle. */
  def qDedupPriority(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.exactByPriority(
        Tables.documents(s, dir).select("doc_id", "text", "source"),
        "text", "doc_id", "source", Seq("src1", "src2", "src3"))
      .select(col("doc_id"), col("source"), col("grp_size"), col("is_kept"))
      .orderBy("doc_id")

  /** q_psi — Population Stability Index per source: each source's token-
    * length distribution vs the whole corpus's, over exact power-of-two
    * buckets with Laplace smoothing — the industry-standard drift score
    * (< 0.1 stable, > 0.25 action-worthy) next to q_js_divergence's
    * vocabulary drift. Same pico-rounding discipline, full-oracle. */
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    graft.operators.Profile.psiByGroup(
        Tables.documents(s, dir)
          .select(col("source"), TF.tokenCount(col("text")).as("n_tok")),
        "source", "n_tok")
      .select(col("grp").as("source"), col("n_values"), col("psi_micro"))
      .orderBy("source")
  }

  /** q_ks_test — exact two-sample Kolmogorov–Smirnov statistic per source:
    * each source's document-length (n_chars) distribution vs the REST of
    * the corpus — PSI's unbinned, unsmoothed sibling reading the single
    * worst point of CDF divergence. Pure integer arithmetic end-to-end
    * (DECIMAL(38,0) cross-products; `ks_micro = 10⁶·D div (n_g·n_rest)`),
    * so the score is order-immune and full-oracle. One corpus pass, then
    * a broadcast-sized groups × distinct-lengths frame. */
  def qKsTest(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.ksByGroup(
        Tables.documents(s, dir).select("source", "n_chars"),
        "source", "n_chars")
      .select(col("grp").as("source"), col("n_values"), col("ks_micro"))
      .orderBy("source")

  /** q_source_gini — token-share concentration across sources: the exact
    * Gini coefficient plus the largest single-source share — the
    * one-number answer to "is my training mixture dominated by one
    * source?" (0 = perfectly even, →1000 = one source is the corpus).
    * Formula on the SORTED source totals: G = (2·Σᵢ i·tᵢ)/(n·T) − (n+1)/n,
    * all in DECIMAL(38,0) (Σ i·tᵢ reaches 10²¹ at 10⁴ sources × 10¹³
    * tokens), reported in milli. One corpus pass for the per-source token
    * totals; the rank window runs on the GROUP-cardinality table only
    * (bounded, like the PSI frame — never a corpus-wide sort). */
  def qSourceGini(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    graft.operators.Profile.giniConcentration(
      Tables.documents(s, dir)
        .select(col("source"), TF.tokenCount(col("text")).as("n_tok")),
      "source", "n_tok")
  }

  /** q_cusum — exact one-sided CUSUM drift per event type over the daily
    * count series (zero-filled 30-day grid): the TEMPORAL drift detector
    * beside PSI/KS's distributional pair — a sustained small excess
    * accumulates where any per-day threshold stays silent. The sequential
    * recursion runs as two window passes via
    * `S_t = cum_t − min(0, min_{j≤t} cum_j)`; see
    * [[graft.operators.Profile.cusumDrift]]. */
  def qCusum(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("grp"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy("grp", "day").agg(count(lit(1)).as("n"))
    val grid = ev.select("grp").distinct()
      .crossJoin(s.range(1).select(explode(expr(
        "sequence(date'2024-01-01', date'2024-01-30', interval 1 day)"))
        .as("day")))
    val full = grid.join(daily, Seq("grp", "day"), "left")
      .na.fill(0L, Seq("n"))
    graft.operators.Profile.cusumDrift(full, "grp", "day", "n")
      .select(col("grp").as("event_type"), col("slot").as("day"),
        col("n"), col("cusum_scaled"), col("drift"))
      .orderBy("event_type", "day")
  }

  /** q_autocorr — lag-1 autocorrelation of the zero-filled daily count
    * series per event type: "does yesterday predict today" — r₁ ≈ 1 =
    * trend/level shift, ≈ 0 memoryless, < 0 alternating; the
    * serial-dependence read beside q_cusum's level alarms and
    * q_seasonality's cycles. See
    * [[graft.operators.Profile.lag1Autocorr]]. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("grp"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy("grp", "day").agg(count(lit(1)).as("n_ev"))
    val grid = ev.select("grp").distinct()
      .crossJoin(s.range(1).select(explode(expr(
        "sequence(date'2024-01-01', date'2024-01-30', interval 1 day)"))
        .as("day")))
    val full = grid.join(daily, Seq("grp", "day"), "left")
      .na.fill(0L, Seq("n_ev"))
      .withColumn("slot", datediff(col("day"), lit("2024-01-01")).cast("long"))
    graft.operators.Profile.lag1Autocorr(full, "grp", "slot", "n_ev")
      .select(col("grp").as("event_type"), col("n"), col("n_pairs"),
        col("ac1_milli"))
      .orderBy("event_type")
  }

  /** q_holt_trend — Holt double-exponential smoothing (level + trend)
    * per event type over the zero-filled daily grid, with the h-step
    * forecast the pipeline actually wants from it — the FORECASTER
    * beside the suite's descriptive trend ops (q_ols fits history,
    * q_theil_sen robustly, q_ewma tracks level only; Holt extrapolates
    * level AND trend). Dyadic smoothing (α = β = ½) in integer
    * milli-units: l' = (1000·v + l + b) div 2, b' = ((l' − l) + b) div 2
    * — every step exact integer arithmetic (both engines' integer
    * division truncates toward zero), so 30 recursive rounds are
    * bit-reproducible cross-engine. The engine folds the recursion with
    * `aggregate()` over each group's slot-ordered 30-value array (a
    * codegen'd per-group O(days) fold — the series is SLOT-cardinality,
    * never corpus-cardinality); the oracle unrolls the same rounds as
    * generated CTEs from the same constants (the q_pagerank discipline).
    * Output: final level/trend and the 7-day-ahead forecast
    * l + 7·b, all milli. */
  def qHoltTrend(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("grp"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy("grp", "day").agg(count(lit(1)).as("n_ev"))
    val grid = ev.select("grp").distinct()
      .crossJoin(s.range(1).select(explode(expr(
        "sequence(date'2024-01-01', date'2024-01-30', interval 1 day)"))
        .as("day")))
    val full = grid.join(daily, Seq("grp", "day"), "left")
      .na.fill(0L, Seq("n_ev"))
      .select(col("grp"),
        datediff(col("day"), lit("2024-01-01")).cast("long").as("t"),
        col("n_ev").cast("long").as("v"))
    graft.operators.Temporal.holtDyadic(full, "grp", "t", "v", horizon = 7)
      .withColumnRenamed("g", "event_type")
      .orderBy("event_type")
  }

  /** Generated unrolled-recursion oracle for [[qHoltTrend]] — one CTE per
    * smoothing step from the same constants as the engine fold. */
  private def holtOracleSql(days: Int): String = {
    val head =
      """WITH ev AS (
        |  SELECT event_type AS grp, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT grp, day, COUNT(*) AS n_ev FROM ev GROUP BY 1, 2),
        |grid AS (
        |  SELECT g.grp, datediff('day', DATE '2024-01-01', d.day) AS t,
        |    CAST(COALESCE(daily.n_ev, 0) AS BIGINT) AS v
        |  FROM (SELECT DISTINCT grp FROM ev) g
        |  CROSS JOIN (
        |    SELECT CAST(x AS DATE) AS day
        |    FROM generate_series(TIMESTAMP '2024-01-01',
        |      TIMESTAMP '2024-01-30', INTERVAL 1 DAY) s(x)) d
        |  LEFT JOIN daily ON daily.grp = g.grp AND daily.day = d.day),
        |h0 AS (
        |  SELECT grp, 1000 * v AS l, CAST(0 AS BIGINT) AS b
        |  FROM grid WHERE t = 0)""".stripMargin
    val steps = (1 until days).map { i =>
      s"""h$i AS (
         |  SELECT g.grp,
         |    (1000 * g.v + h.l + h.b) // 2 AS l,
         |    (((1000 * g.v + h.l + h.b) // 2) - h.l + h.b) // 2 AS b
         |  FROM grid g JOIN h${i - 1} h USING (grp) WHERE g.t = $i)""".stripMargin
    }
    val tail =
      s"""SELECT grp AS event_type, CAST(l AS BIGINT) AS level_milli,
         |  CAST(b AS BIGINT) AS trend_milli,
         |  CAST(l + 7 * b AS BIGINT) AS forecast_7d_milli
         |FROM h${days - 1} ORDER BY event_type""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  /** q_theil_sen — Theil–Sen robust trend per event type: the MEDIAN of
    * all pairwise slopes of the zero-filled daily count series — the
    * outlier-immune complement of q_ols (one wild day moves an OLS fit;
    * it moves at most half the pairwise slopes). The series is
    * SLOT-CARDINALITY (30 days), so the all-pairs slope table is a
    * bounded CELL-pair join (the q_kendall shape — 435 pairs per group,
    * fixed regardless of corpus rows); the median is a type-1 rank pick
    * over the (slope, t1, t2) total order, never an interpolated
    * percentile. Slopes in micro-units/day via one mirrored double
    * (floor(10⁶·dv/dt + 0.5)); everything after is integer. */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type").as("grp"), to_date(col("ts")).as("day"))
    val daily = ev.groupBy("grp", "day").agg(count(lit(1)).as("n_ev"))
    val grid = ev.select("grp").distinct()
      .crossJoin(s.range(1).select(explode(expr(
        "sequence(date'2024-01-01', date'2024-01-30', interval 1 day)"))
        .as("day")))
    val full = grid.join(daily, Seq("grp", "day"), "left")
      .na.fill(0L, Seq("n_ev"))
      .select(col("grp"),
        datediff(col("day"), lit("2024-01-01")).cast("long").as("t"),
        col("n_ev").cast("long").as("v"))
      .localCheckpoint(eager = false) // both sides of the pair join
    val slopes = full.as("a").join(full.as("b"),
        col("a.grp") === col("b.grp") && col("a.t") < col("b.t"))
      .select(col("a.grp").as("grp"), col("a.t").as("t1"),
        col("b.t").as("t2"),
        expr("CAST(floor(1000000 * CAST(b.v - a.v AS DOUBLE) / " +
          "CAST(b.t - a.t AS DOUBLE) + 0.5) AS BIGINT)").as("slope_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy("slope_micro", "t1", "t2")
    slopes.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp")))
      .filter(col("rn") === expr("CAST(ceil(n / 2.0) AS BIGINT)"))
      .select(col("grp").as("event_type"), col("n").as("n_pairs"),
        col("slope_micro").as("sen_slope_micro"))
      .orderBy("event_type")
  }

  /** q_seasonality — day-of-week profile per event type with a chi-square
    * test against the CALENDAR-CORRECTED uniform (the 30-day window holds
    * 5 Mondays/Tuesdays but 4 of every other day — naive uniform expected
    * counts would flag seasonality that is only the calendar): per type
    * the event total, χ² in micro (each term computed in doubles FROM
    * exact integer counts and micro-rounded BEFORE the sum — the
    * jsDivergence discipline), and the peak ISO weekday with its permille
    * share. One corpus pass for the (type, dow) counts; everything else
    * runs on the types × 7 frame. χ² ≫ 14 (df = 6) = real weekly
    * structure; the CUSUM twin reads level shifts, this reads cycles. */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_type"), (weekday(col("ts")) + 1).as("dow"))
    val counts = ev.groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    // calendar weight: how many of each weekday the fixed window holds
    val dowDays = s.range(1).select(explode(expr(
        "sequence(date'2024-01-01', date'2024-01-30', interval 1 day)"))
        .as("d"))
      .select((weekday(col("d")) + 1).as("dow"))
      .groupBy("dow").agg(count(lit(1)).as("nd"))
    val tot = counts.groupBy("event_type").agg(sum("o").as("t"))
    val frame = tot.crossJoin(broadcast(dowDays))
      .join(counts, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("dev", (col("o") * 30 - col("t") * col("nd")).cast("double"))
      .withColumn("term_micro",
        round(col("dev") * col("dev") /
          (lit(30.0) * col("t") * col("nd")) * 1e6, 0).cast("long"))
    val w = Window.partitionBy("event_type").orderBy(desc("o"), asc("dow"))
    val peak = frame.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("dow").cast("long").as("peak_dow"),
        expr("(1000 * o) div t").as("peak_permille"))
    frame.groupBy("event_type")
      .agg(max("t").as("n_events"), sum("term_micro").as("chi2_micro"))
      .join(peak, "event_type")
      .orderBy("event_type")
  }

  /** q_dq_checks — the declarative data-quality gate over the orders feed:
    * null/accepted-value/range predicates in one conditional-aggregate
    * pass, key uniqueness, and referential integrity against customer
    * (left-anti). The publish-or-block report an ingest pipeline runs
    * before a table goes live; see [[graft.operators.Profile.dqChecks]]. */
  def qDqChecks(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    graft.operators.Profile.dqChecks(orders,
      predicateRules = Seq(
        "custkey_not_null" -> col("o_custkey").isNull,
        "status_accepted" -> !col("o_orderstatus").isin("O", "F", "P"),
        "totalprice_positive" ->
          (col("o_totalprice").isNull || col("o_totalprice") <= 0),
        "orderdate_window" ->
          (col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))),
      uniqueRules = Seq("orderkey_unique" -> Seq("o_orderkey")),
      refRules = Seq(("custkey_referential", "o_custkey",
        Tables.customer(s, dir), "c_custkey")))
  }

  /** q_chi2_indep — chi-square test of independence nation × market
    * segment over customers (per-cell observed / exact-rational expected /
    * micro-χ² contribution): is the segment mix the same in every
    * geography, or does acquisition skew regionally? The two-margin
    * INDEPENDENCE sibling of q_seasonality's fixed-calendar
    * goodness-of-fit; see [[graft.operators.Profile.chi2Independence]]. */
  def qChi2Indep(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.chi2Independence(
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("a"), col("c_mktsegment").as("b")),
      "a", "b")

  /** q_changepoint — single change-point detection per return-flag
    * revenue series: the week whose split maximizes the between-segment
    * sum of squares (binary-segmentation's scoring step / offline CUSUM
    * argmax) — the "when did this source's behavior shift" primitive
    * that complements q_cusum's sequential alarm with a retrospective
    * localization. Scale discipline: aggregate FIRST (weekly cent sums —
    * map-side partial, state O(weeks·flags) regardless of row count),
    * window over the bounded series second, so the per-flag sort touches
    * hundreds of rows at any SF. The score is exact integer arithmetic
    * end to end: with prefix sum S1, total S, sizes n1/n, the
    * between-SS is (n·S1 − n1·S)²/(n·n1·(n−n1)) — numerator squared (so
    * sign-safe for floor division), DECIMAL(38,0) engine / HUGEINT
    * oracle, scaled by 10⁻¹² to keep the reported score in int64 up to
    * sf100 (num² ≈ 10³⁵ stays inside 38 digits). Argmax by (score desc,
    * week asc) row_number — deterministic, replayed identically by the
    * oracle. */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wk = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"),
        date_trunc("week", col("l_shipdate")).cast("date").as("week"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .as("cents"))
    val ordered = Window.partitionBy("flag").orderBy("week")
    val whole = Window.partitionBy("flag")
    val ser = wk.select(col("flag"), col("week"),
      sum("cents").over(ordered).as("s1"),
      row_number().over(ordered).as("n1"),
      sum("cents").over(whole).as("s"),
      count(lit(1)).over(whole).as("n"))
    val scored = ser.filter(col("n1") < col("n"))
      .withColumn("score", expr(
        "((CAST(n AS DECIMAL(38,0)) * s1 - CAST(n1 AS DECIMAL(38,0)) * s) *" +
        " (CAST(n AS DECIMAL(38,0)) * s1 - CAST(n1 AS DECIMAL(38,0)) * s))" +
        " div (CAST(n AS DECIMAL(38,0)) * n1 * (n - n1) * 1000000000000)"))
      .withColumn("mean1_cents", expr("s1 div n1"))
      .withColumn("mean2_cents", expr("(s - s1) div (n - n1)"))
    val best = Window.partitionBy("flag")
      .orderBy(desc("score"), asc("week"))
    scored.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("flag"), col("week").as("cp_week"),
        col("n").as("n_weeks"), col("score"),
        col("mean1_cents"), col("mean2_cents"))
      .orderBy("flag")
  }

  /** q_qq_drift — two-sample quantile–quantile comparison: the nine
    * type-1 decile order statistics of order-total cents for two market
    * segments side by side, with exact difference and ratio (ppm) — the
    * distribution-shape drift diagnostic that LOCATES where two samples
    * diverge (tails vs body), where q_ks_test reports only the max gap
    * and q_psi bins on fixed boundaries. Scale discipline
    * ([[graft.operators.Ranks]] two-phase): order-total cents are
    * near-unique, so a distinct-value histogram gives no reduction and a
    * per-segment cumulative window would drag half the orders through
    * one task. Instead $10k cent bands aggregate map-side, only the
    * straddling bucket per (segment, decile) is ranked, and the type-1
    * quantile is the value at position ⌈k·n/10⌉ of the (v, orderkey)
    * total order — rank-exact, interpolation-free, so ties and engines
    * cannot disagree. ceil as (k·n+9) div 10 keeps everything integer. */
  def qQqDrift(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
      .localCheckpoint(eager = false) // feeds offsets + the pick window
    val bucket = expr("v div 1000000")
    val offs = graft.operators.Ranks.bucketOffsets(src, Seq("seg"), bucket)
    val dk = s.range(1, 10).select(col("id").as("decile"))
    val positions = graft.operators.Ranks.totals(offs, Seq("seg"))
      .crossJoin(broadcast(dk))
      .select(col("seg"), col("decile"),
        expr("(decile * n + 9) div 10").as("pos"))
    val pick = graft.operators.Ranks.orderStatAt(src, Seq("seg"), bucket,
      Seq(col("v"), col("o_orderkey")), "v", offs, positions, "pos", "qv")
    pick.groupBy("decile")
      .agg(max(when(col("seg") === "BUILDING", col("qv"))).as("building_c"),
        max(when(col("seg") === "MACHINERY", col("qv"))).as("machinery_c"))
      .withColumn("diff_c", col("building_c") - col("machinery_c"))
      .withColumn("ratio_ppm",
        expr("(building_c * 1000000) div machinery_c"))
      .orderBy("decile")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_changepoint" -> (qChangepoint _),
    "q_qq_drift" -> (qQqDrift _),
    "q_dq_checks" -> (qDqChecks _),
    "q_chi2_indep" -> (qChi2Indep _),
    "q_seasonality" -> (qSeasonality _),
    "q_autocorr" -> (qAutocorr _),
    "q_theil_sen" -> (qTheilSen _),
    "q_dp_counts" -> (qDpCounts _),
    "q_cusum" -> (qCusum _),
    "q_source_gini" -> (qSourceGini _),
    "q_ks_test" -> (qKsTest _),
    "q_psi" -> (qPsi _),
    "q_kanon" -> (qKanon _),
    "q_ldiv" -> (qLdiv _),
    "q_dedup_priority" -> (qDedupPriority _),
    "q_frame_dedup" -> (qFrameDedup _),
    "q_profile_drift" -> (qProfileDrift _),
    "q_dedup_cdc" -> (qDedupCdc _),
    "q_winnow" -> (qWinnow _),
    "q_winnow_pairs" -> (qWinnowPairs _),
    "q_zipf_slope" -> (qZipfSlope _),
    "q_heaps_law" -> (qHeapsLaw _),
    "q_holt_trend" -> (qHoltTrend _),
    "q_js_divergence" -> (qJsDivergence _),
    "q_url_dedup" -> (qUrlDedup _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_curriculum" -> (qCurriculum _),
    "q_pagerank" -> (qPagerank _),
    "q_agg_merge" -> (qAggMerge _),
    "q_tokenize_ids" -> (qTokenizeIds _),
    "q_cdc_chunks" -> (qCdcChunks _),
    "q_json_quarantine" -> (qJsonQuarantine _))

  /** The unrolled-iteration DuckDB oracle for [[qPagerank]] — generated, so
    * oracle and engine agree on the round count by construction. */
  private def pagerankOracleSql(iterations: Int): String = {
    val head =
      """WITH pairs AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events),
        |e AS (
        |  SELECT prev_type AS src, event_type AS dst, COUNT(*) AS w
        |  FROM pairs WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY 1),
        |ew AS (
        |  SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS w,
        |    CAST(ow.ow AS BIGINT) AS ow
        |  FROM e JOIN ow ON ow.src = e.src),
        |nodes AS (
        |  SELECT DISTINCT src AS node FROM e
        |  UNION SELECT DISTINCT dst FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST(150000 + (850 * coalesce(s.sc, 0)) // 1000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ew.dst AS node,
         |      sum((CAST(r.r AS HUGEINT) * ew.w) // ew.ow) AS sc
         |    FROM ew JOIN r${i - 1} r ON r.node = ew.src GROUP BY 1) s
         |  USING (node))""".stripMargin
    }
    (head +: iters).mkString(",\n") +
      s"\nSELECT node, r AS rank_micro FROM r$iterations ORDER BY node"
  }

  override val oracle: Map[String, String] = Map(
    // Changepoint: same weekly cent series, prefix sums, exact HUGEINT
    // between-SS score (scaled to int64), argmax replayed identically.
    "q_changepoint" ->
      """WITH wk AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
        |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |ser AS (
        |  SELECT flag, week,
        |    SUM(cents) OVER (PARTITION BY flag ORDER BY week) AS s1,
        |    ROW_NUMBER() OVER (PARTITION BY flag ORDER BY week) AS n1,
        |    SUM(cents) OVER (PARTITION BY flag) AS s,
        |    COUNT(*) OVER (PARTITION BY flag) AS n
        |  FROM wk),
        |sc AS (
        |  SELECT flag, week, n,
        |    CAST(((CAST(n AS HUGEINT) * s1 - CAST(n1 AS HUGEINT) * s) *
        |          (CAST(n AS HUGEINT) * s1 - CAST(n1 AS HUGEINT) * s)) //
        |      (CAST(n AS HUGEINT) * n1 * (n - n1) * 1000000000000)
        |      AS BIGINT) AS score,
        |    CAST(s1 // n1 AS BIGINT) AS mean1_cents,
        |    CAST((s - s1) // (n - n1) AS BIGINT) AS mean2_cents
        |  FROM ser WHERE n1 < n),
        |best AS (
        |  SELECT flag, week AS cp_week, CAST(n AS BIGINT) AS n_weeks,
        |    score, mean1_cents, mean2_cents,
        |    ROW_NUMBER() OVER (PARTITION BY flag
        |      ORDER BY score DESC, week) AS rn
        |  FROM sc)
        |SELECT flag, cp_week, n_weeks, score, mean1_cents, mean2_cents
        |FROM best WHERE rn = 1 ORDER BY flag""".stripMargin,
    // QQ drift: value histogram, per-segment cumulative over distinct
    // values, type-1 decile = min v with cum >= ceil(k*n/10).
    "q_qq_drift" ->
      """WITH src AS (
        |  SELECT c_mktsegment AS seg,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |gv AS (SELECT seg, v, COUNT(*) AS cnt FROM src GROUP BY 1, 2),
        |cum AS (
        |  SELECT seg, v,
        |    SUM(cnt) OVER (PARTITION BY seg ORDER BY v) AS cum,
        |    SUM(cnt) OVER (PARTITION BY seg) AS n
        |  FROM gv),
        |dk AS (SELECT CAST(k AS BIGINT) AS decile FROM range(1, 10) t(k)),
        |pick AS (
        |  SELECT decile, seg, MIN(v) AS qv
        |  FROM cum CROSS JOIN dk
        |  WHERE cum >= (decile * n + 9) // 10
        |  GROUP BY 1, 2)
        |SELECT decile,
        |  MAX(CASE WHEN seg = 'BUILDING' THEN qv END) AS building_c,
        |  MAX(CASE WHEN seg = 'MACHINERY' THEN qv END) AS machinery_c,
        |  MAX(CASE WHEN seg = 'BUILDING' THEN qv END) -
        |    MAX(CASE WHEN seg = 'MACHINERY' THEN qv END) AS diff_c,
        |  CAST((MAX(CASE WHEN seg = 'BUILDING' THEN qv END) * 1000000) //
        |    MAX(CASE WHEN seg = 'MACHINERY' THEN qv END) AS BIGINT)
        |    AS ratio_ppm
        |FROM pick GROUP BY decile ORDER BY decile""".stripMargin,
    // Seasonality: isodow mirrors Spark's weekday()+1 (both 1=Monday);
    // per-dow terms micro-rounded before the sum.
    // DP release: 5 md5 hex digits -> u in (0,1); Laplace inverse CDF
    // with the keyness ln idiom, milli-rounded. Seed is visible here so
    // the oracle can reproduce the PRF draw (correctness harness only);
    // null group values coalesce to '<null>' on both sides.
    "q_dp_counts" ->
      """WITH g AS (
        |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |u AS (
        |  SELECT lang, source, n,
        |    (CAST(list_sum(list_transform(range(1, 6), i ->
        |      CAST(strpos('0123456789abcdef',
        |        substr(md5('graft-test-seed' || '|' || 'r9' || '|' ||
        |            COALESCE(CAST(lang AS VARCHAR), '<null>') || '|' ||
        |            COALESCE(CAST(source AS VARCHAR), '<null>')),
        |          CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
        |        << (4 * (5 - CAST(i AS INTEGER))))) AS DOUBLE) + 0.5)
        |      / 1048576.0 AS u
        |  FROM g)
        |SELECT lang, source, CAST(n AS BIGINT) AS n,
        |  CAST(round(-1000.0 *
        |    (CASE WHEN u - 0.5 > 0 THEN 1.0 WHEN u - 0.5 < 0 THEN -1.0
        |      ELSE 0.0 END) *
        |    ln(1.0 - 2.0 * abs(u - 0.5))) AS BIGINT) AS noise_milli,
        |  CAST(n * 1000 + CAST(round(-1000.0 *
        |    (CASE WHEN u - 0.5 > 0 THEN 1.0 WHEN u - 0.5 < 0 THEN -1.0
        |      ELSE 0.0 END) *
        |    ln(1.0 - 2.0 * abs(u - 0.5))) AS BIGINT) AS BIGINT)
        |    AS released_milli
        |FROM u ORDER BY lang, source""".stripMargin,
    // Theil–Sen: same zero-filled daily grid as q_autocorr; bounded
    // pairwise slope table; type-1 rank median.
    "q_theil_sen" ->
      """WITH days AS (
        |  SELECT CAST(d AS DATE) AS day
        |  FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
        |    INTERVAL 1 DAY) t(d)),
        |daily AS (
        |  SELECT event_type AS grp, CAST(ts AS DATE) AS day, COUNT(*) AS n_ev
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT g.grp, datediff('day', DATE '2024-01-01', days.day) AS t,
        |    COALESCE(daily.n_ev, 0) AS v
        |  FROM (SELECT DISTINCT event_type AS grp FROM events) g
        |  CROSS JOIN days
        |  LEFT JOIN daily ON daily.grp = g.grp AND daily.day = days.day),
        |slopes AS (
        |  SELECT a.grp, a.t AS t1, b.t AS t2,
        |    CAST(floor(1000000 * CAST(b.v - a.v AS DOUBLE) /
        |      CAST(b.t - a.t AS DOUBLE) + 0.5) AS BIGINT) AS slope_micro
        |  FROM grid a JOIN grid b ON a.grp = b.grp AND a.t < b.t),
        |rk AS (
        |  SELECT grp, slope_micro,
        |    ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY slope_micro, t1, t2) AS rn,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM slopes)
        |SELECT grp AS event_type, CAST(n AS BIGINT) AS n_pairs,
        |  slope_micro AS sen_slope_micro
        |FROM rk WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
        |ORDER BY event_type""".stripMargin,
    "q_autocorr" ->
      """WITH days AS (
        |  SELECT CAST(d AS DATE) AS day
        |  FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
        |    INTERVAL 1 DAY) t(d)),
        |daily AS (
        |  SELECT event_type AS grp, CAST(ts AS DATE) AS day, COUNT(*) AS n_ev
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT g.grp, days.day, COALESCE(daily.n_ev, 0) AS x,
        |    datediff('day', DATE '2024-01-01', days.day) AS slot
        |  FROM (SELECT DISTINCT event_type AS grp FROM events) g
        |  CROSS JOIN days
        |  LEFT JOIN daily ON daily.grp = g.grp AND daily.day = days.day),
        |w AS (
        |  SELECT grp, slot, x,
        |    COUNT(*) OVER (PARTITION BY grp) AS n,
        |    SUM(x) OVER (PARTITION BY grp) AS t,
        |    LEAD(x, 1) OVER (PARTITION BY grp ORDER BY slot) AS x1,
        |    LEAD(slot, 1) OVER (PARTITION BY grp ORDER BY slot) AS s1
        |  FROM grid),
        |m AS (
        |  SELECT grp, MAX(n) AS n,
        |    SUM((CAST(n AS HUGEINT) * x - t) * (CAST(n AS HUGEINT) * x - t))
        |      AS den,
        |    SUM(CASE WHEN s1 = slot + 1 THEN
        |      (CAST(n AS HUGEINT) * x - t) * (CAST(n AS HUGEINT) * x1 - t)
        |      END) AS num,
        |    SUM(CASE WHEN s1 = slot + 1 THEN 1 ELSE 0 END) AS n_pairs
        |  FROM w GROUP BY grp)
        |SELECT grp AS event_type, CAST(n AS BIGINT) AS n,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CASE WHEN den > 0 AND num IS NOT NULL
        |    THEN CAST(floor(1000 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |      + 0.5) AS BIGINT) END AS ac1_milli
        |FROM m ORDER BY event_type""".stripMargin,
    "q_ldiv" ->
      """WITH base AS (
        |  SELECT lang, n_chars // 1000 AS size_kb, source FROM documents),
        |counts AS (
        |  SELECT lang, size_kb, COUNT(*) AS n,
        |    COUNT(DISTINCT source) AS l_div
        |  FROM base GROUP BY 1, 2),
        |safe AS (
        |  SELECT CAST(lang AS VARCHAR) AS lang,
        |    CAST(size_kb AS VARCHAR) AS size_kb,
        |    n, l_div, 1 AS n_groups
        |  FROM counts WHERE n >= 5 AND l_div >= 2),
        |sup AS (
        |  SELECT '*' AS lang, '*' AS size_kb, SUM(n) AS n,
        |    CAST(NULL AS BIGINT) AS l_div, COUNT(*) AS n_groups
        |  FROM counts WHERE n < 5 OR l_div < 2
        |  HAVING SUM(n) IS NOT NULL)
        |SELECT lang, size_kb, CAST(n AS BIGINT) AS n,
        |  CAST(l_div AS BIGINT) AS l_div,
        |  CAST(n_groups AS BIGINT) AS n_groups
        |FROM (SELECT * FROM safe UNION ALL SELECT * FROM sup)
        |ORDER BY lang, size_kb""".stripMargin,
    "q_dq_checks" ->
      """WITH base AS (
        |  SELECT COUNT(*) AS n_rows,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS v_custkey_not_null,
        |    SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
        |      THEN 1 ELSE 0 END) AS v_status,
        |    SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |      THEN 1 ELSE 0 END) AS v_price,
        |    SUM(CASE WHEN CAST(o_orderdate AS TIMESTAMP)
        |        >= TIMESTAMP '2001-01-01'
        |      THEN 1 ELSE 0 END) AS v_window
        |  FROM orders),
        |uniq AS (
        |  SELECT COALESCE(SUM(c - 1), 0) AS v FROM
        |    (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)),
        |refv AS (
        |  SELECT COUNT(*) AS v FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL),
        |rows0 AS (
        |  SELECT 'custkey_not_null' AS rule, n_rows,
        |    v_custkey_not_null AS violations FROM base
        |  UNION ALL SELECT 'status_accepted', n_rows, v_status FROM base
        |  UNION ALL SELECT 'totalprice_positive', n_rows, v_price FROM base
        |  UNION ALL SELECT 'orderdate_window', n_rows, v_window FROM base
        |  UNION ALL SELECT 'orderkey_unique', n_rows, uniq.v
        |    FROM base CROSS JOIN uniq
        |  UNION ALL SELECT 'custkey_referential', n_rows, refv.v
        |    FROM base CROSS JOIN refv)
        |SELECT rule, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(violations AS BIGINT) AS violations,
        |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM rows0 ORDER BY rule""".stripMargin,
    "q_chi2_indep" ->
      """WITH src AS (
        |  SELECT n.n_name AS a, c.c_mktsegment AS b
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |cells AS (SELECT a, b, COUNT(*) AS o FROM src GROUP BY 1, 2),
        |rt AS (SELECT a, SUM(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT b, SUM(o) AS c FROM cells GROUP BY 1),
        |nt AS (SELECT SUM(o) AS n FROM cells),
        |j AS (
        |  SELECT cells.a, cells.b, CAST(o AS BIGINT) AS o,
        |    CAST(rt.r AS BIGINT) AS r, CAST(ct.c AS BIGINT) AS c,
        |    CAST(nt.n AS BIGINT) AS n,
        |    CAST(CAST(nt.n AS BIGINT) * o -
        |      CAST(rt.r AS BIGINT) * CAST(ct.c AS BIGINT) AS DOUBLE) AS dev
        |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN nt)
        |SELECT a, b, o AS observed,
        |  CAST((1000 * r * c) // n AS BIGINT) AS expected_milli,
        |  CAST(floor(1000000 * dev * dev /
        |    (CAST(n AS DOUBLE) * r * c) + 0.5) AS BIGINT) AS chi2_micro
        |FROM j ORDER BY a, b""".stripMargin,
    "q_seasonality" ->
      """WITH days AS (
        |  SELECT CAST(d AS DATE) AS day
        |  FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
        |    INTERVAL 1 DAY) t(d)),
        |dd AS (SELECT isodow(day) AS dow, COUNT(*) AS nd FROM days GROUP BY 1),
        |cnt AS (
        |  SELECT event_type, isodow(CAST(ts AS DATE)) AS dow, COUNT(*) AS o
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(o) AS t FROM cnt GROUP BY 1),
        |frame AS (
        |  SELECT tot.event_type, dd.dow, dd.nd, tot.t,
        |    COALESCE(cnt.o, 0) AS o,
        |    CAST(COALESCE(cnt.o, 0) * 30 - tot.t * dd.nd AS DOUBLE) AS dev
        |  FROM tot CROSS JOIN dd
        |  LEFT JOIN cnt ON cnt.event_type = tot.event_type
        |    AND cnt.dow = dd.dow),
        |terms AS (
        |  SELECT event_type, o, dow, t,
        |    CAST(round(dev * dev / (30.0 * t * nd) * 1000000.0) AS BIGINT)
        |      AS term_micro
        |  FROM frame),
        |agg AS (
        |  SELECT event_type, CAST(MAX(t) AS BIGINT) AS n_events,
        |    CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
        |  FROM terms GROUP BY 1),
        |pk AS (
        |  SELECT event_type, CAST(dow AS BIGINT) AS peak_dow,
        |    CAST((1000 * o) // t AS BIGINT) AS peak_permille
        |  FROM (SELECT event_type, dow, o, t,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY o DESC, dow) AS rn
        |    FROM terms) WHERE rn = 1)
        |SELECT a.event_type, a.n_events, a.chi2_micro, pk.peak_dow,
        |  pk.peak_permille
        |FROM agg a JOIN pk USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q_cusum" ->
      """WITH days AS (
        |  SELECT CAST(d AS DATE) AS day
        |  FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
        |    INTERVAL 1 DAY) t(d)),
        |daily AS (
        |  SELECT event_type AS grp, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT g.grp, days.day, COALESCE(daily.n, 0) AS n
        |  FROM (SELECT DISTINCT event_type AS grp FROM events) g
        |  CROSS JOIN days
        |  LEFT JOIN daily ON daily.grp = g.grp AND daily.day = days.day),
        |w AS (
        |  SELECT grp, day, n,
        |    COUNT(*) OVER (PARTITION BY grp) AS d_slots,
        |    SUM(n) OVER (PARTITION BY grp) AS t_total
        |  FROM grid),
        |c AS (
        |  SELECT grp, day, n, t_total,
        |    SUM(n * d_slots - t_total)
        |      OVER (PARTITION BY grp ORDER BY day) AS cum
        |  FROM w),
        |r AS (
        |  SELECT grp, day, n, t_total, cum,
        |    LEAST(0, MIN(cum) OVER (PARTITION BY grp ORDER BY day)) AS runmin
        |  FROM c)
        |SELECT grp AS event_type, day, CAST(n AS BIGINT) AS n,
        |  CAST(cum - runmin AS BIGINT) AS cusum_scaled,
        |  (cum - runmin) > 2 * t_total AS drift
        |FROM r ORDER BY event_type, day""".stripMargin,
    "q_source_gini" ->
      """WITH tt AS (
        |  SELECT source, SUM(len(string_split(text, ' '))) AS t
        |  FROM documents GROUP BY source),
        |rk AS (
        |  SELECT t, ROW_NUMBER() OVER (ORDER BY t, source) AS i FROM tt)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
        |  CAST(SUM(t) AS BIGINT) AS total_tokens,
        |  CAST((1000 * (2 * SUM(CAST(i AS HUGEINT) * t)
        |      - (COUNT(*) + 1) * CAST(SUM(t) AS HUGEINT)))
        |    // (COUNT(*) * CAST(SUM(t) AS HUGEINT)) AS BIGINT) AS gini_milli,
        |  CAST((1000 * CAST(MAX(t) AS HUGEINT)) // SUM(t) AS BIGINT)
        |    AS top_share_permille
        |FROM rk""".stripMargin,
    // KS: exact integer two-sample statistic — HUGEINT mirrors the
    // engine's DECIMAL(38,0) cross-products, same integral divides.
    "q_ks_test" ->
      """WITH gv AS (
        |  SELECT source AS grp, n_chars AS v, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |tv AS (SELECT v, SUM(c) AS t FROM gv GROUP BY v),
        |gn AS (SELECT grp, SUM(c) AS n_g FROM gv GROUP BY grp),
        |tot AS (SELECT SUM(n_g) AS n_all FROM gn),
        |grid AS (
        |  SELECT gn.grp, gn.n_g, tv.v, tv.t, COALESCE(gv.c, 0) AS c
        |  FROM gn CROSS JOIN tv
        |  LEFT JOIN gv ON gv.grp = gn.grp AND gv.v = tv.v),
        |cum AS (
        |  SELECT grp, n_g, v,
        |    SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cg,
        |    SUM(t) OVER (PARTITION BY grp ORDER BY v) AS ct
        |  FROM grid),
        |d AS (
        |  SELECT grp, n_g, n_all - n_g AS n_rest,
        |    abs(CAST(n_all - n_g AS HUGEINT) * cg
        |      - CAST(n_g AS HUGEINT) * (ct - cg)) AS dv
        |  FROM cum CROSS JOIN tot)
        |SELECT grp AS source, CAST(MAX(n_g) AS BIGINT) AS n_values,
        |  CASE WHEN MAX(n_rest) > 0
        |    THEN CAST((1000000 * MAX(dv))
        |      // (CAST(MAX(n_g) AS HUGEINT) * MAX(n_rest)) AS BIGINT)
        |    ELSE NULL END AS ks_micro
        |FROM d GROUP BY grp ORDER BY source""".stripMargin,
    // PSI: power-of-two buckets (exact bit arithmetic), Laplace-smoothed
    // per-bucket terms pico-rounded before the sum (the jsDivergence
    // discipline), integer micro output.
    "q_psi" ->
      """WITH b AS (
        |  SELECT source AS grp,
        |    GREATEST(16, 1 << length(bin(len(string_split(text, ' ')) - 1)))
        |      AS bucket_hi
        |  FROM documents WHERE len(string_split(text, ' ')) > 0),
        |gb AS (SELECT grp, bucket_hi, COUNT(*) AS c FROM b GROUP BY 1, 2),
        |ref AS (SELECT bucket_hi, CAST(SUM(c) AS BIGINT) AS r
        |  FROM gb GROUP BY 1),
        |gn AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g FROM gb GROUP BY 1),
        |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS n_all,
        |  CAST(COUNT(*) AS BIGINT) AS k FROM ref),
        |f AS (
        |  SELECT gn.grp, gn.n_g, ref.r, COALESCE(gb.c, 0) AS c,
        |    tot.n_all, tot.k
        |  FROM gn CROSS JOIN ref
        |  LEFT JOIN gb ON gb.grp = gn.grp AND gb.bucket_hi = ref.bucket_hi
        |  CROSS JOIN tot),
        |t AS (
        |  SELECT grp, n_g,
        |    CAST(round(((c + 1.0) / (n_g + k) - (r + 1.0) / (n_all + k))
        |      * ln(((c + 1.0) / (n_g + k)) / ((r + 1.0) / (n_all + k)))
        |      * 1000000000000.0) AS BIGINT) AS term_pico
        |  FROM f)
        |SELECT grp AS source, MAX(n_g) AS n_values,
        |  CAST(round(CAST(SUM(term_pico) AS DOUBLE) / 1000000.0) AS BIGINT)
        |    AS psi_micro
        |FROM t GROUP BY grp ORDER BY source""".stripMargin,
    "q_kanon" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents
        |  GROUP BY lang, source),
        |safe AS (SELECT lang, source, n, 1::BIGINT AS n_groups FROM c WHERE n >= 5),
        |supp AS (
        |  SELECT '*' AS lang, '*' AS source, CAST(SUM(n) AS BIGINT) AS n,
        |    COUNT(*) AS n_groups
        |  FROM c WHERE n < 5 HAVING SUM(n) IS NOT NULL)
        |SELECT * FROM (SELECT * FROM safe UNION ALL SELECT * FROM supp)
        |ORDER BY lang, source""".stripMargin,
    "q_dedup_priority" ->
      """WITH d AS (
        |  SELECT doc_id, source, sha256(text) AS content_hash,
        |    CASE source WHEN 'src1' THEN 0 WHEN 'src2' THEN 1
        |      WHEN 'src3' THEN 2 ELSE 3 END AS prio
        |  FROM documents)
        |SELECT doc_id, source,
        |  COUNT(*) OVER (PARTITION BY content_hash) AS grp_size,
        |  (ROW_NUMBER() OVER (PARTITION BY content_hash
        |     ORDER BY prio, doc_id) = 1) AS is_kept
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_winnow" ->
      """WITH g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    substr(md5(array_to_string((string_split(text, ' '))[i:i+2], ' ')), 1, 15)
        |      || lpad(CAST(i - 1 AS VARCHAR), 7, '0') AS hp
        |  FROM documents,
        |    UNNEST(range(1, len(string_split(text, ' ')) - 1)) AS r(i)),
        |wnd AS (
        |  SELECT doc_id,
        |    min(hp) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM g),
        |sel AS (SELECT DISTINCT doc_id, wmin FROM wnd WHERE cnt = least(4, m))
        |SELECT doc_id, CAST(substr(wmin, 16, 7) AS BIGINT) AS fp_pos,
        |  substr(wmin, 1, 15) AS fp_hash
        |FROM sel
        |ORDER BY doc_id, fp_pos, fp_hash""".stripMargin,
    "q_winnow_pairs" ->
      """WITH g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    substr(md5(array_to_string((string_split(text, ' '))[i:i+2], ' ')), 1, 15)
        |      || lpad(CAST(i - 1 AS VARCHAR), 7, '0') AS hp
        |  FROM documents,
        |    UNNEST(range(1, len(string_split(text, ' ')) - 1)) AS r(i)),
        |wnd AS (
        |  SELECT doc_id,
        |    min(hp) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt,
        |    count(*) OVER (PARTITION BY doc_id) AS m
        |  FROM g),
        |fps AS (
        |  SELECT DISTINCT doc_id, substr(wmin, 1, 15) AS fp_hash
        |  FROM wnd WHERE cnt = least(4, m)),
        |hot AS (SELECT fp_hash FROM fps GROUP BY 1 HAVING count(*) > 10),
        |kept AS (SELECT * FROM fps
        |  WHERE fp_hash NOT IN (SELECT fp_hash FROM hot))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b USING (fp_hash)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin,
    "q_zipf_slope" ->
      """WITH st AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, count(*) AS c FROM st GROUP BY 1, 2),
        |r AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
        |  FROM (
        |    SELECT source, c,
        |      row_number() OVER (PARTITION BY source ORDER BY c DESC, tok)
        |        AS rnk
        |    FROM c)
        |  WHERE rnk <= 100),
        |a AS (
        |  SELECT source, count(*) AS n_ranks, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM r GROUP BY 1)
        |SELECT source, CAST(n_ranks AS BIGINT) AS n_ranks,
        |  CASE WHEN n_ranks * sxx - sx * sx <> 0 THEN
        |    CAST(round(CAST(n_ranks * sxy - sx * sy AS DOUBLE) /
        |      CAST(n_ranks * sxx - sx * sx AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) END AS slope_micro
        |FROM a ORDER BY source""".stripMargin,
    // Holt: generated 30-step unroll from the same constants as the
    // engine's aggregate() fold.
    "q_holt_trend" -> holtOracleSql(days = 30),
    // Heaps: checkpoints are the last doc of each of 10 equal rank
    // buckets; ln values micro-rounded to longs before the OLS sums.
    "q_heaps_law" ->
      """WITH st AS (
        |  SELECT source, doc_id AS doc, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |fo AS (SELECT source, tok, MIN(doc) AS first_doc
        |       FROM st GROUP BY 1, 2),
        |pd AS (SELECT source, doc, COUNT(*) AS n_tok FROM st GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, doc, n_tok,
        |    row_number() OVER (PARTITION BY source ORDER BY doc) AS rnk,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc
        |      ROWS UNBOUNDED PRECEDING) AS cum_tok
        |  FROM pd),
        |nd AS (SELECT source, MAX(rnk) AS n_docs FROM rk GROUP BY 1),
        |ck AS (
        |  SELECT rk.source, rk.doc AS ck_doc, rk.cum_tok,
        |    (rk.rnk * 10) // nd.n_docs AS ck
        |  FROM rk JOIN nd USING (source)
        |  WHERE (rk.rnk * 10) // nd.n_docs > ((rk.rnk - 1) * 10) // nd.n_docs),
        |gr AS (
        |  SELECT fo.source, ck.ck, ck.cum_tok, COUNT(*) AS cum_types
        |  FROM fo JOIN ck ON ck.source = fo.source
        |    AND fo.first_doc <= ck.ck_doc
        |  GROUP BY 1, 2, 3),
        |pts AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(cum_tok AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |      AS x,
        |    CAST(round(ln(CAST(cum_types AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |      AS y
        |  FROM gr),
        |a AS (
        |  SELECT source, COUNT(*) AS n_ckpt, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM pts GROUP BY 1)
        |SELECT source, CAST(n_ckpt AS BIGINT) AS n_ckpt,
        |  CASE WHEN n_ckpt * sxx - sx * sx <> 0 THEN
        |    CAST(round(CAST(n_ckpt * sxy - sx * sy AS DOUBLE) /
        |      CAST(n_ckpt * sxx - sx * sx AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) END AS beta_micro,
        |  CASE WHEN n_ckpt * sxx - sx * sx <> 0 THEN
        |    CAST(round((CAST(sy AS DOUBLE) -
        |      (CAST(n_ckpt * sxy - sx * sy AS DOUBLE) /
        |       CAST(n_ckpt * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |      / n_ckpt / 1000000.0 * 1000.0, 0) AS BIGINT) END AS ln_k_milli
        |FROM a ORDER BY source""".stripMargin,
    "q_js_divergence" ->
      """WITH st AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, count(*) AS c FROM st GROUP BY 1, 2),
        |tot AS (SELECT source, sum(c) AS n FROM c GROUP BY 1),
        |terms AS (
        |  SELECT source_lo, source_hi, ca, cb,
        |    CAST(round((p * ln(p / m) + q * ln(q / m)) * 0.5
        |      * 1000000000000.0, 0) AS BIGINT) AS term_pico
        |  FROM (
        |    SELECT a.source AS source_lo, b.source AS source_hi,
        |      a.c AS ca, b.c AS cb,
        |      CAST(a.c AS DOUBLE) / ta.n AS p, CAST(b.c AS DOUBLE) / tb.n AS q,
        |      (CAST(a.c AS DOUBLE) / ta.n + CAST(b.c AS DOUBLE) / tb.n) / 2.0
        |        AS m
        |    FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
        |    JOIN tot ta ON ta.source = a.source
        |    JOIN tot tb ON tb.source = b.source)),
        |g AS (
        |  SELECT source_lo, source_hi, count(*) AS n_common, sum(ca) AS sa,
        |    sum(cb) AS sb, sum(term_pico) AS tp
        |  FROM terms GROUP BY 1, 2),
        |frame AS (
        |  SELECT a.source AS source_lo, a.n AS na, b.source AS source_hi,
        |    b.n AS nb
        |  FROM tot a, tot b WHERE a.source < b.source)
        |SELECT source_lo, source_hi,
        |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
        |  CAST(round((CAST(coalesce(tp, 0) AS DOUBLE) / 1000000000000.0 +
        |    0.5 * ln(2) * ((1.0 - CAST(coalesce(sa, 0) AS DOUBLE) / na) +
        |      (1.0 - CAST(coalesce(sb, 0) AS DOUBLE) / nb)))
        |    * 1000000.0, 0) AS BIGINT) AS jsd_micro
        |FROM frame LEFT JOIN g USING (source_lo, source_hi)
        |ORDER BY source_lo, source_hi""".stripMargin,
    "q_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 2 = 0
        |        THEN upper('www.' || source || '.example.com')
        |        ELSE 'www.' || source || '.example.com' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        |    || '/page/' || CAST(doc_id % 20 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '&utm_source=feed&ref=search'
        |        ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END) AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN host = '' THEN url ELSE
        |      'https://' || host
        |      || regexp_replace(regexp_extract(url,
        |          '^[Hh][Tt][Tt][Pp][Ss]://[^/?#]+([^?#]*)', 1), '/+$', '')
        |      || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END)
        |    END AS canon_url
        |  FROM (
        |    SELECT doc_id, url,
        |      regexp_replace(lower(regexp_extract(url,
        |        '^[Hh][Tt][Tt][Pp][Ss]://([^/?#]+)', 1)), '(:443)+$', '') AS host,
        |      array_to_string(list_sort(list_filter(
        |        string_split(regexp_extract(url, '^[^#]*?\?([^#]*)', 1), '&'),
        |        p -> NOT regexp_matches(p, '^(utm_[^=]*|ref)=')
        |          AND p <> '')), '&') AS qs
        |    FROM u))
        |SELECT doc_id, canon_url,
        |  row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1
        |    AS is_canonical
        |FROM canon
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_diff" -> (snapshotViewCtes + """,
        |o AS (SELECT doc_id, md5(text) AS h_old FROM ov),
        |n AS (SELECT doc_id, md5(text) AS h_new FROM nv)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN h_old <> h_new THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin),
    "q_curriculum" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS score
        |  FROM documents),
        |b AS (
        |  SELECT quantile_cont(score,
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        |  FROM s),
        |g AS (
        |  SELECT doc_id, score,
        |    CAST(len(list_filter(bs, x -> x < score)) AS BIGINT) AS bucket
        |  FROM s CROSS JOIN b)
        |SELECT doc_id, score, bucket,
        |  CAST(row_number() OVER (PARTITION BY bucket
        |    ORDER BY md5('cur' || CAST(doc_id AS VARCHAR)), doc_id)
        |    AS BIGINT) AS pos
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_pagerank" -> pagerankOracleSql(10),
    "q_agg_merge" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_qty
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_tokenize_ids" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, string_split(text, ' ')[i] AS tok
        |  FROM documents,
        |    UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS r(i)),
        |vocab AS (
        |  SELECT tok,
        |    CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS tid
        |  FROM (SELECT tok, count(*) AS c FROM toks GROUP BY 1)
        |  QUALIFY tid <= 20),
        |e AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.tid, 0) AS tid
        |  FROM toks t LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  '[' || string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) || ']'
        |    AS ids_json
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_cdc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, string_split(text, ' ')[i] AS tok
        |  FROM documents,
        |    UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS r(i)),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |    sum(CASE WHEN substr(md5(tok), 1, 1) = '0' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
        |  FROM toks),
        |ch AS (
        |  SELECT doc_id, chunk_id, count(*) AS n_chunk_tokens,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_digest
        |  FROM c GROUP BY 1, 2),
        |d AS (
        |  SELECT chunk_digest, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs,
        |    min(n_chunk_tokens) AS n_tokens
        |  FROM ch GROUP BY 1 HAVING count(*) > 1)
        |SELECT chunk_digest, CAST(n_occurrences AS BIGINT) AS n_occurrences,
        |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM d ORDER BY n_occurrences DESC, chunk_digest""".stripMargin,
    "q_json_quarantine" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 11 = 0 THEN '{' || props ELSE props END
        |      AS props2
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN json_type(TRY_CAST(props2 AS JSON)) = 'OBJECT'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN json_type(TRY_CAST(props2 AS JSON)) = 'OBJECT'
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_frame_dedup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    md5(substr(text, i * 64 + 1, 16)) AS frame_digest
        |  FROM documents,
        |    UNNEST(range(0,
        |      CASE WHEN length(text) >= 16
        |        THEN (length(text) - 16) // 64 + 1 ELSE 0 END)) AS r(i)),
        |d AS (
        |  SELECT frame_digest, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs
        |  FROM f GROUP BY 1 HAVING count(*) > 1)
        |SELECT frame_digest, CAST(n_occurrences AS BIGINT) AS n_occurrences,
        |  CAST(n_docs AS BIGINT) AS n_docs
        |FROM d ORDER BY n_occurrences DESC, frame_digest""".stripMargin,
    "q_dedup_cdc" ->
      """WITH toks AS (
        |  SELECT doc_id, i - 1 AS pos, string_split(text, ' ')[i] AS tok
        |  FROM documents,
        |    UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS r(i)),
        |c AS (
        |  SELECT doc_id, pos, tok,
        |    sum(CASE WHEN substr(md5(tok), 1, 1) = '0' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
        |  FROM toks),
        |ch AS (
        |  SELECT doc_id, chunk_id, count(*) AS n_chunk_tokens,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_digest
        |  FROM c GROUP BY 1, 2),
        |cd AS (
        |  SELECT DISTINCT doc_id, chunk_digest FROM ch
        |  WHERE n_chunk_tokens >= 4),
        |hot AS (
        |  SELECT chunk_digest FROM cd GROUP BY 1 HAVING count(*) > 10),
        |kept AS (
        |  SELECT * FROM cd WHERE chunk_digest NOT IN
        |    (SELECT chunk_digest FROM hot))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM kept a JOIN kept b USING (chunk_digest)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin,
    "q_profile_drift" -> (snapshotViewCtes + """,
        |po AS (
        |  SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows_old,
        |    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_nulls_old,
        |    COUNT(DISTINCT doc_id) AS n_distinct_old FROM ov
        |  UNION ALL
        |  SELECT 'text', COUNT(*),
        |    SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT text) FROM ov
        |  UNION ALL
        |  SELECT 'source', COUNT(*),
        |    SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT source) FROM ov),
        |pn AS (
        |  SELECT 'doc_id' AS col_name, COUNT(*) AS n_rows_new,
        |    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_nulls_new,
        |    COUNT(DISTINCT doc_id) AS n_distinct_new FROM nv
        |  UNION ALL
        |  SELECT 'text', COUNT(*),
        |    SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT text) FROM nv
        |  UNION ALL
        |  SELECT 'source', COUNT(*),
        |    SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT source) FROM nv)
        |SELECT col_name,
        |  CAST(n_rows_old AS BIGINT) AS n_rows_old,
        |  CAST(n_nulls_old AS BIGINT) AS n_nulls_old,
        |  CAST(n_distinct_old AS BIGINT) AS n_distinct_old,
        |  CAST(n_rows_new AS BIGINT) AS n_rows_new,
        |  CAST(n_nulls_new AS BIGINT) AS n_nulls_new,
        |  CAST(n_distinct_new AS BIGINT) AS n_distinct_new,
        |  CAST(n_rows_new - n_rows_old AS BIGINT) AS d_rows,
        |  CAST(n_nulls_new - n_nulls_old AS BIGINT) AS d_nulls,
        |  CAST(n_distinct_new - n_distinct_old AS BIGINT) AS d_distinct,
        |  abs(n_distinct_new - n_distinct_old) * 10 > n_distinct_old
        |    AS distinct_drift,
        |  (CAST(n_nulls_new AS HUGEINT) * n_rows_old -
        |   CAST(n_nulls_old AS HUGEINT) * n_rows_new) * 20 >
        |    CAST(n_rows_new AS HUGEINT) * n_rows_old AS null_drift
        |FROM po JOIN pn USING (col_name)
        |ORDER BY col_name""".stripMargin))
}
