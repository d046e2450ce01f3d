package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** Physical-plan assertions: the 100 TB design claims in the query Scaladoc
  * are checked here against the actual plans — pushdown reaches the scan,
  * dimension joins broadcast, global sort+limit becomes TakeOrdered, and
  * approximate aggregates stay single-pass (SURVEY.md §4.2). */
class PlanSpec extends SparkSpec {

  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  /** Every row_number window in the plan must partition by the
    * [[graft.operators.Ranks]] bucket column — a rank window partitioned
    * by a bare group (or by nothing) funnels a data-proportional slice of
    * the corpus through ONE window task, the 100 TB plan defect the
    * two-phase discipline exists to remove. */
  private def rankWindowsKeyedByBucket(p: String): Unit =
    for (line <- p.linesIterator if line.contains("row_number()"))
      assert(line.contains("_bkt#"),
        s"rank window not bucket-keyed: $line\n" + p.take(2000))

  test("q_scan_parquet pushes its predicate into the parquet scan") {
    val p = planString(graft.queries.Filters.qScanParquet(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), p)
    // projection pruning: only the 4 referenced columns in ReadSchema
    assert(!p.contains("l_comment") && !p.contains("l_tax"), p)
  }

  test("q_join_broadcast plans broadcast joins for both dims") {
    val p = planString(graft.queries.Joins.qJoinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_sort_limit plans TakeOrderedAndProject (no global sort)") {
    val p = planString(graft.queries.Windows.qSortLimit(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_filter_pred aggregates with partial (map-side) aggregation") {
    val p = planString(graft.queries.Filters.qFilterPred(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), p)
  }

  test("envelope sink is shuffle-free (no Exchange in the plan)") {
    val p = planString(
      graft.operators.EnvelopeSink.kafkaRows(Tables.events(spark, sf), "none"))
    assert(!p.contains("Exchange"), p)
  }

  test("as-of join is the single-shuffle union+window plan, no join explosion") {
    val df = graft.queries.Joins.qJoinAsof(spark, sf)
    val p = planString(df)
    // union+window formulation: no physical join operator at all, and only
    // the window partitioning + final orderBy exchanges — never a per-event
    // candidate join
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected one hash exchange, plan:\n$p")
  }

  test("resample/sessionize are single-shuffle window plans, no joins") {
    for (df <- Seq(graft.queries.Windows.qResampleFfill(spark, sf),
        graft.queries.Windows.qSessionize(spark, sf))) {
      val p = planString(df)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
      assert(p.contains("Window"), p)
    }
  }

  test("gated dedup plans contain no cartesian/nested-loop product") {
    // the quadratic all-pairs shapes are exactly what the LSH gates replace —
    // lock the property in at the plan level
    for (df <- Seq(
        graft.queries.LlmOps.qDedupEmbed(spark, sf),
        graft.queries.LlmOps.qDedupNear(spark, sf),
        graft.queries.LlmOps.qDedupSimhash(spark, sf))) {
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
  }

  test("packing/mixture plans window per shard/source, never a global window") {
    for (df <- Seq(graft.queries.LlmOps.qPackChunks(spark, sf),
        graft.queries.LlmOps.qMixSources(spark, sf))) {
      val p = planString(df)
      assert(p.contains("Window"), p.take(2000))
      // a window without a partition spec collapses everything onto one
      // task (Exchange SinglePartition) — the 100 TB killer this layout
      // deliberately avoids by packing per shard / ranking per source
      assert(!p.contains("SinglePartition"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("semi/anti joins stay semi/anti at the physical level") {
    val semi = planString(graft.queries.Joins.qJoinSemi(spark, sf))
    assert(semi.contains("LeftSemi"), semi)
    val anti = planString(graft.queries.Joins.qJoinAnti(spark, sf))
    assert(anti.contains("LeftAnti"), anti)
  }

  test("BM25 top-k is TakeOrderedAndProject over partially-aggregated postings") {
    val p = planString(graft.queries.CorpusOps.qBm25(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(p.contains("partial"), p.take(2000))
    // the query-vocabulary filter must run before the aggregate fan-in,
    // not after: postings traffic ∝ query-term hits, not corpus tokens
    assert(p.contains("INSET") || p.contains(" IN ("), p.take(2000))
  }

  test("e2e pipeline plans per-shard windows and no cartesian products") {
    val p = planString(graft.queries.CorpusOps.qPipelineE2e(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // both windows (dedup hash, shard packing) must be partitioned — a
    // SinglePartition window would serialize the whole corpus
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("unigram LM broadcasts the vocabulary and stats, never shuffling tokens to it") {
    val p = planString(graft.queries.PipelineOps.qUnigramLm(spark, sf))
    // vocab lookup + total both arrive as broadcasts; the only hash
    // exchanges are the token count and the per-doc aggregate
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("overlap chunking plans zero exchanges beyond the dump sort") {
    val p = planString(graft.queries.PipelineOps.qChunkOverlap(spark, sf))
    val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges == 1 && p.contains("rangepartitioning"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000))
  }

  test("incremental dedup keeps the anti-join and prunes the store to its digest") {
    val p = planString(graft.queries.PipelineOps.qDedupIncremental(spark, sf))
    assert(p.contains("LeftAnti"), p.take(2000))
    // the store side must read only the text column it digests — no
    // full-width documents moving through the anti-join
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(3000))
    assert(!p.contains("lang"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB the optimizer injects a bloom filter built from the
    // selective (dim) side into the fact scan, dropping non-joining rows
    // BEFORE the shuffle — the size thresholds that gate it are simply not
    // met at test scale, so lower them to show the plan Spark would run.
    import org.apache.spark.sql.functions._
    // baseline BEFORE any bloom conf is set — comparing two bloom-filtered
    // runs against each other could never catch a wrongly-dropped row
    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey")).count()
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), p.take(3000))
      // and the result is unchanged by the injected filter
      assert(joined.count() === expected)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("substr-dedup plans hash-keyed aggregates and windows, no products") {
    val p = planString(graft.queries.TrainOps.qSubstrDedup(spark, sf))
    // the duplicated-window mark-back must stay a semi-join on the hash,
    // the islands window must partition by doc, and nothing may degenerate
    // into an all-pairs product or a single-task window
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("mixture plan broadcasts both one-row totals; sources never shuffle to them") {
    val p = planString(graft.queries.TrainOps.qMixturePlan(spark, sf))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")
      || p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("quality gate windows per source, never a global single-task window") {
    val p = planString(graft.queries.TrainOps.qQualityGate(spark, sf))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("PII redaction and hash sampling plan zero exchanges beyond the dump sort") {
    for (df <- Seq(graft.queries.CorpusOps.qPiiRedact(spark, sf),
        graft.queries.CorpusOps.qSampleHash(spark, sf))) {
      // physical plan (Exchange nodes only exist there): the single allowed
      // exchange is the rangepartitioning for the Verify determinism
      // orderBy — the operator body (projection + filter) must not shuffle
      val p = planString(df)
      val exchanges = p.sliding("Exchange".length).count(_ == "Exchange")
      assert(exchanges == 1 && p.contains("rangepartitioning"), p.take(2000))
    }
  }

  test("winnowing fingerprints plan one doc-keyed window and no joins") {
    val p = planString(graft.operators.Winnow.fingerprints(
      Tables.documents(spark, sf), "text", "doc_id", k = 3, w = 4))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("url canonicalization adds zero exchanges before the keeper window") {
    val p = planString(graft.operators.UrlOps.dedupByUrl(
      Tables.documents(spark, sf)
        .selectExpr("doc_id", "concat('https://h.example.com/p?a=', doc_id) AS url"),
      "url", "doc_id"))
    // exactly the one hash exchange for the canonical-url window
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("curriculum ordering broadcasts its boundary row — no global ntile sort") {
    val p = planString(graft.queries.DriftOps.qCurriculum(spark, sf))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the in-bucket window partitions by bucket, never a single partition
    // (the only allowed SinglePartition is the one-row boundary aggregate)
    assert(p.contains("Window"), p.take(2000))
  }

  test("shardManifest's corpus window partitions by bucket; offsets broadcast") {
    val p = planString(graft.queries.LlmOps.qShardManifest(spark, sf))
    // the per-doc running sum must key on the bucket — a global-order
    // window (SinglePartition over the corpus) is the 100 TB killer this
    // two-phase shape exists to avoid; the only allowed SinglePartition
    // is the bounded bucket-table prefix window
    assert(p.contains("hashpartitioning(bucket"), p.take(2000))
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("maxConcurrency's delta window partitions by bucket; ewma/ohlc shuffle once") {
    // same two-phase contract as shardManifest: the event-scale running
    // sum keys on the hour bucket; the only SinglePartition window is the
    // bounded bucket-table offset prefix
    val c = planString(graft.queries.Windows.qConcurrency(spark, sf))
    assert(c.contains("hashpartitioning(bucket"), c.take(2000))
    assert(!c.contains("CartesianProduct"), c.take(2000))
    // ewma: 16 lag columns + rn + cnt ride ONE user_id exchange — a second
    // hashpartitioning on user_id would mean the window split into two
    // shuffles
    val e = planString(graft.queries.Windows.qEwma(spark, sf))
    val exchanges = "hashpartitioning\\(user_id".r
      .findAllMatchIn(e).length
    assert(exchanges === 1, s"expected 1 user_id exchange, got $exchanges:\n" +
      e.take(2000))
    val o = planString(graft.queries.Windows.qOhlc(spark, sf))
    assert(o.contains("hashpartitioning(event_type"), o.take(2000))
    assert(!o.contains("SinglePartition"), o.take(2000))
    // attribution is the union+window as-of shape: one user shuffle, no
    // per-conversion candidate join; burstiness likewise single-keyed
    val at = planString(graft.queries.Windows.qAttribution(spark, sf))
    assert(at.contains("hashpartitioning(u"), at.take(2000))
    assert(!at.contains("Join"), at.take(2000))
    val bu = planString(graft.queries.Windows.qBurstiness(spark, sf))
    assert(bu.contains("hashpartitioning(user_id"), bu.take(2000))
    assert(!bu.contains("Join"), bu.take(2000))
    // cohort LTV: the cohort attach is a broadcast join on the customer
    // key; the cumulative window partitions by cohort (bounded frame)
    val ltv = planString(graft.queries.CorpusOps.qCohortLtv(spark, sf))
    assert(ltv.contains("BroadcastHashJoin"), ltv.take(2000))
    assert(ltv.contains("hashpartitioning(cm"), ltv.take(2000))
    // winsorize: bounds attach by broadcast; no cartesian
    val win = planString(graft.queries.CorpusOps.qWinsorize(spark, sf))
    assert(win.contains("BroadcastHashJoin"), win.take(2000))
    assert(!win.contains("CartesianProduct"), win.take(2000))
    // ols: ONE corpus aggregate (all six moments partial-aggregated),
    // no join, no window — the whole regression is a two-phase agg
    val ols = planString(graft.queries.StatOps.qOls(spark, sf))
    assert(!ols.contains("Join"), ols.take(2000))
    assert(!ols.contains("Window"), ols.take(2000))
    assert(ols.contains("partial"), ols.take(2000))
  }

  test("dqChecks predicates share one pass; chi2 margins ride the cell table") {
    // all predicate rules must fold into ONE scan+aggregate of orders —
    // one FileScan of the orders parquet in the whole report plan would
    // read the fact table once per rule otherwise (uniqueness and the
    // anti-join legitimately re-scan: different keys)
    val p = planString(graft.queries.DriftOps.qDqChecks(spark, sf))
    val orderScans = "Location.*orders".r.findAllMatchIn(p).length
    assert(orderScans <= 3, s"expected <=3 orders scans " +
      s"(predicates+unique+ref), got $orderScans:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val c = planString(graft.queries.DriftOps.qChi2Indep(spark, sf))
    assert(c.contains("BroadcastHashJoin"), c.take(2000)) // nation dim
    assert(!c.contains("CartesianProduct"), c.take(2000))
    // textrank: the final top-50 must be a TakeOrdered over the bounded
    // node table, and the per-round joins keyed (no cartesian anywhere)
    val t = planString(graft.queries.StatOps.qTextrank(spark, sf))
    assert(t.contains("TakeOrderedAndProject"), t.take(2000))
    assert(!t.contains("CartesianProduct"), t.take(2000))
  }

  test("no round-6 query plans a cartesian product; corpus-scale paths avoid SinglePartition") {
    // plan each query ONCE, assert both conditions from the same string
    val plans = graft.queries.DriftOps.queries.map { case (name, fn) =>
      name -> planString(fn(spark, sf))
    }
    // every DriftOps query: a cartesian product anywhere is a scale bug
    for ((name, p) <- plans)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    // the pure corpus-pipeline paths must also never funnel the corpus
    // through one partition (one-row broadcast aggregates and bounded
    // vocab/limit stages elsewhere are legitimate SinglePartition users)
    for (name <- Seq("q_winnow", "q_cdc_chunks", "q_frame_dedup"))
      assert(!plans(name).contains("SinglePartition"),
        s"$name:\n${plans(name).take(2000)}")
  }

  test("round-9 stats/pipeline queries: no products, bounded-frame windows only") {
    // the rank/effect-size family must never plan a row-pair product:
    // spearman ranks over distinct values, kendall/theil_sen pair CELLS
    // (grid-bounded), anova/cramers/mutual_info aggregate margins
    for (df <- Seq(
        graft.queries.StatOps.qSpearman(spark, sf),
        graft.queries.StatOps.qKendall(spark, sf),
        graft.queries.StatOps.qAnova(spark, sf),
        graft.queries.StatOps.qCramersV(spark, sf),
        graft.queries.StatOps.qMutualInfo(spark, sf),
        graft.queries.StatOps.qKmvDistinct(spark, sf),
        graft.queries.DriftOps.qTheilSen(spark, sf),
        graft.queries.CorpusOps.qBfsHops(spark, sf),
        graft.queries.CorpusOps.qNdcg(spark, sf),
        graft.queries.CurateOps.qPplFilter(spark, sf))) {
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
    // q_mix_apply: the corpus never shuffles — the only exchanges are the
    // tiny rate/total aggregates and the final dump sort; the doc scan
    // joins the broadcast rate table in place
    val mix = planString(graft.queries.TrainOps.qMixApply(spark, sf))
    assert(mix.contains("BroadcastHashJoin"), mix.take(2000))
    assert(!mix.contains("SortMergeJoin"), mix.take(2000))
  }

  test("triangle census keeps the degree-ordered orientation: keyed joins only") {
    // q_triangles' safety claim is the orientation — every join is an
    // equi-join (wedge join keyed on the oriented apex; closing join on the
    // (d1, d2) pair key), never a product. Below the one-task cap its
    // co-purchase pair count runs in one task by design and sits behind
    // the census' edge checkpoint, so the above-cap path, the pair-count
    // self-join over the same co-purchase keys, is planned directly. No
    // plan has a SinglePartition exchange: above the cap nothing funnels
    // through one partition.
    import graft.operators.PairCounts
    val coPurchaseKeys = PairCounts.oneKeyPerRow(Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct(), "p", "o")
    for (df <- Seq(graft.queries.CorpusOps.qTriangles(spark, sf),
        graft.operators.Clusters.triangleStats(
          Tables.lineitem(spark, sf)
            .select(col("l_orderkey").as("a"), col("l_partkey").as("b")),
          "a", "b"),
        PairCounts.pairCountsJoin(coPurchaseKeys, Long.MaxValue, None))) {
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
        p.contains("BroadcastHashJoin"), p.take(2000))
      assert(!p.contains("Exchange SinglePartition"), p.take(2000))
    }
  }

  test("ppjoin candidate join carries the length + positional filters, no product") {
    // The prefix join (PairCounts.pairCountsPrefix: q_ppjoin's path above
    // the one-task cap) rests on two provably-lossless prunes riding the
    // prefix-key equi-join: the AllPairs LENGTH filter (ceil(m * lo) <= m,
    // both ways) and the PPJoin POSITIONAL filter (least(ma - ra, mb - rb)
    // + 1 >= the required overlap). Dropping either leaves every
    // correctness check green (the filters only prune candidates the exact
    // verify rejects anyway) and returns the join to its unpruned cost —
    // so the plan itself is the only place the win is observable. Pin it.
    import graft.operators.{Dedup, PairCounts}
    val keys = Dedup.shingleKeys(Tables.documents(spark, sf), "text",
      "doc_id", 2)
    val p = planString(PairCounts.pairCountsPrefix(keys, 0.8))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    val cond = p.linesIterator.filter(_.contains("least(")).mkString("\n")
    // length filter: both CEIL(m * lo) <= m directions survive into the
    // physical join condition beside the positional least(...) bound
    assert("CEIL\\(\\(cast\\(m#\\d+L as double\\) \\* 0\\.7".r
      .findAllIn(cond).size === 2,
      s"AllPairs length filter missing from the plan:\n${p.take(4000)}")
    assert(cond.contains("Join") && cond.contains("least((m#"),
      s"PPJoin positional filter (least) missing:\n${p.take(4000)}")
  }

  test("pareto frontier has no global-order window and no product; linkage is equi-joins only") {
    // q_pareto_docs' scale claim is the two-phase bucket discipline: the
    // skyline computes with windows partitioned by (group, bucket) — never
    // a global-order single-partition sort — and the bucket-summary join
    // broadcasts. q_record_linkage's is blocking: every candidate pass is
    // an equi-join on (group, span), never a product.
    val pareto = planString(graft.queries.TrainOps.qParetoDocs(spark, sf))
    assert(!pareto.contains("CartesianProduct"), pareto.take(2000))
    assert(!pareto.contains("BroadcastNestedLoopJoin"), pareto.take(2000))
    assert(!pareto.contains("Exchange SinglePartition"), pareto.take(2000))
    val link = planString(graft.queries.CorpusOps.qRecordLinkage(spark, sf))
    assert(!link.contains("CartesianProduct"), link.take(2000))
    assert(!link.contains("BroadcastNestedLoopJoin"), link.take(2000))
    assert(link.contains("BroadcastHashJoin") ||
      link.contains("SortMergeJoin") || link.contains("ShuffledHashJoin"),
      link.take(2000))
    // heaps: checkpoint table joins broadcast onto the vocab table
    val heaps = planString(graft.queries.DriftOps.qHeapsLaw(spark, sf))
    assert(!heaps.contains("CartesianProduct"), heaps.take(2000))
    assert(!heaps.contains("Exchange SinglePartition"), heaps.take(2000))
  }

  test("subsample CI medians ride band histograms; LPA rollup is keyed, no products") {
    // q_subsample_ci's scale claim (rewritten in optimization r15) is the
    // two-phase BAND-histogram shape: ONE aggregate per (flag, $1000
    // cent band) carries the full count plus all 16 replicate counts as
    // conditional sums — there is NO ×B row explode anywhere (the r13
    // explode formulation measured 2.8x slower at sf0.1), and only each
    // replicate's straddling band is ranked. The plan is where the shape
    // is observable; pin it. Straddle candidates broadcast.
    val q = graft.queries.StatOps.qSubsampleCi(spark, sf)
    val p = planString(q)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("explode(sequence"),
      s"the xB replicate row explode is back in the plan:\n${p.take(4000)}")
    // the band-histogram aggregate itself sits behind the hist
    // localCheckpoint (Scan ExistingRDD in this dump); the observable
    // signature of the two-phase shape is the straddle-candidate
    // BROADCAST join carrying the replicate-membership residual
    // (b = -1 OR substr(h, ...)) and the rank-at-position pick filter
    assert("BroadcastHashJoin.*substr\\(h#".r.findFirstIn(p).isDefined,
      s"membership-filtered straddle broadcast join missing:\n${p.take(4000)}")
    // pick: an equality Filter directly over a row_number Window per
    // (flag, b) ordered by cents, comparing the window's rank plus `off`
    // with `pos`
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo,
      RowNumber}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.window.WindowExec
    val picks = q.queryExecution.sparkPlan.collect {
      case f @ FilterExec(cond: EqualTo, w: WindowExec)
          if w.orderSpec.map(_.child).collect { case a: Attribute => a.name }
            == Seq("cents") &&
            w.partitionSpec.collect { case a: Attribute => a.name }
            == Seq("flag", "b") &&
            w.windowExpression.exists(_.find(_.isInstanceOf[RowNumber])
              .isDefined) &&
            w.windowExpression.map(_.toAttribute)
              .exists(cond.references.contains) &&
            Set("off", "pos").subsetOf(cond.references.map(_.name).toSet) => f
    }
    assert(picks.nonEmpty,
      s"rank-at-position pick filter missing:\n${q.queryExecution.sparkPlan}")
    // q_communities' final rollup: keyed aggregate + TakeOrdered only
    // (the round-loop plans are behind their per-round localCheckpoints;
    // the loop shape itself is asserted behaviorally in CorpusOpsSpec)
    val c = planString(graft.queries.CorpusOps.qCommunities(spark, sf))
    assert(!c.contains("CartesianProduct"), c.take(2000))
    assert(!c.contains("BroadcastNestedLoopJoin"), c.take(2000))
    assert(c.contains("TakeOrderedAndProject"), c.take(2000))
  }

  test("snapshot diff shuffles digests, not documents (projection before join)") {
    val df = graft.operators.Layout.snapshotDiff(
      Tables.documents(spark, sf), Tables.documents(spark, sf),
      "doc_id", "text")
    val p = planString(df)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    // text must be pruned away before the exchange: the shuffled schema
    // carries only id + digest
    assert(!p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang"),
      p.take(2000))
  }

  test("multimodal decode is a narrow projection: no shuffle before the dump sort") {
    // build → decode for all three containers must stay embarrassingly
    // parallel: at 100 TB the media decode inherits the scan partitioning,
    // and the only Exchange allowed is the final total-order range exchange
    // every registered query carries for oracle determinism.
    val p = planString(graft.queries.LlmOps.qMultimodalDecode(spark, sf))
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    // and only text + doc_id are read from the documents table
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(3000))
  }

  test("entropy-codec queries stay narrow: no shuffle before the dump sort") {
    // Inflater/imageio/AVI kernels are per-row leaves: encode → decode →
    // stats (and the frame explode) must inherit the scan partitioning.
    for (q <- Seq(graft.queries.LlmOps.qMultimodalInflate(spark, sf),
        graft.queries.LlmOps.qMultimodalAvi(spark, sf))) {
      val p = planString(q)
      assert(!p.contains("hashpartitioning"), p.take(3000))
      assert(!p.contains("Join"), p.take(3000))
    }
  }

  test("boilerplate strip filters lines via broadcast anti-join") {
    val p = planString(graft.queries.CurateOps.qBoilerplate(spark, sf))
    // The hot-line set broadcasts; the corpus-sized line table must NOT be
    // reshuffled for the filter (LeftAnti on a BroadcastExchange build).
    assert(p.contains("BroadcastExchange"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("DSIR scores via broadcast ratio table; corpus occurrences never re-shuffle to it") {
    val p = planString(graft.queries.TrainOps.qDsir(spark, sf))
    // the 64-row log-ratio table and the one-row K-th threshold both
    // broadcast; the occurrence stream must never sort-merge to either
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("BPE encode joins the trained vocab by broadcast; corpus never shuffles to it") {
    val docs = Tables.documents(spark, sf)
    val (_, vocab) = graft.operators.Bpe.trainVocab(docs, "text", nMerges = 2)
    val p = planString(graft.operators.Bpe.encode(docs, "text", "doc_id", vocab))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("sparse knn broadcasts the query postings; corpus postings never sort-merge to them") {
    val p = planString(graft.queries.CorpusOps.qSparseKnn(spark, sf))
    // the bounded query-postings side must arrive as a broadcast — a
    // sort-merge there would reshuffle the whole corpus posting table
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // and the per-query top-k keeps the partial WindowGroupLimit
    assert(p.contains("WindowGroupLimit"), p.take(3000))
  }

  test("containment reuses the guarded shingle machinery (no products, partial aggs)") {
    // The stop-shingle anti-join itself sits BEHIND the (doc, shingle)
    // localCheckpoint so it cannot appear in this plan; what must hold
    // downstream: equi-join pair generation (never a product) and
    // map-side-partial intersection counting. A corpus this small counts
    // its pairs in one task, so the distributed machinery — the path every
    // corpus above the one-task cap takes — is planned directly.
    import graft.operators.{Dedup, PairCounts}
    val keys = Dedup.shingleKeys(graft.Tables.documents(spark, sf), "text",
      "doc_id", 3)
    val scale = planString(PairCounts.PairTail.Containment(0.6)(
      PairCounts.pairCountsJoin(keys, Long.MaxValue, Some(0.01))))
    val p = planString(graft.queries.LlmOps.qContainment(spark, sf))
    for (plan <- Seq(p, scale))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(scale.contains("partial_count"), scale.take(3000))
  }

  test("phash attaches dup-group sizes via a bounded broadcast, never a corpus window") {
    // group sizes come from a <= 2^bits-row aggregate broadcast back —
    // a count-over-window would buffer corpus-sized hash partitions
    val p = planString(graft.queries.LlmOps.qPhash(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    assert(!p.contains("Window "), p.take(3000))
  }

  test("skew profile plans a TakeOrdered top-N over partial key counts") {
    // one map-side-partial key count + a one-row broadcast totals join +
    // TakeOrdered — never a global sort, never a corpus-wide window
    val p = planString(graft.queries.CurateOps.qSkewProfile(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("phash near-dup pairs come from a band equi-join, never a product") {
    // candidates must come from the banded equi-join (hash/sort-merge on
    // the band key) with the singleton prune — an all-pairs product over
    // images would be the exact shape the banding exists to avoid
    val p = planString(graft.queries.LlmOps.qPhashNear(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("top-k rerank windows keep a partial WindowGroupLimit below the exchange") {
    // rerankTopK (q_sim_topk) and the PQ ADC shortlist (q_sim_pq) partition
    // their windows by query id, so each window partition is corpus-sized;
    // what keeps map-side state bounded at 100 TB is InferWindowGroupLimit
    // planting a PARTIAL WindowGroupLimit below the exchange — every map
    // task keeps only its local top-k per query before any row moves. Pin
    // it like the DPP and broadcast shapes: a Spark upgrade that silently
    // dropped the rewrite must break this test, not an at-scale job.
    for (df <- Seq(graft.queries.LlmOps.qSimTopk(spark, sf),
        graft.queries.LlmOps.qSimPq(spark, sf),
        graft.queries.LlmOps.qSimIvfPq(spark, sf),
        // q_agg_approx's KMV rides the same rewrite: its rank window must
        // keep only k rows per group per map task, or the "approximate"
        // distinct shuffles the whole distinct-hash set
        graft.queries.Aggregations.qAggApprox(spark, sf))) {
      val p = planString(df)
      assert(p.contains("WindowGroupLimit"), p.take(3000))
      assert(p.contains("Partial"), p.take(3000))
      // and the partial limit must sit BELOW an exchange (map-side): the
      // first WindowGroupLimit occurrence in the bottom-up printed tree
      // appears after the last Exchange it feeds — assert both modes exist
      assert(p.contains("Final"), p.take(3000))
    }
  }

  test("round-8 additions: no cartesian products; isotropy is join-free") {
    // q_funnel / q_ks_test / q_rank_fusion / q_kn_bigram: every join is a
    // keyed equi-join or a one-row/bounded broadcast — a CartesianProduct
    // anywhere is a scale bug (the broadcast stat attaches plan as
    // BroadcastNestedLoopJoin over one-row sides, which is fine)
    val plans = Seq(
      "q_funnel" -> graft.queries.Windows.qFunnel(spark, sf),
      "q_ks_test" -> graft.queries.DriftOps.qKsTest(spark, sf),
      "q_rank_fusion" -> graft.queries.CorpusOps.qRankFusion(spark, sf),
      "q_kn_bigram" -> graft.queries.StatOps.qKnBigram(spark, sf))
      .map { case (n, df) => n -> planString(df) }
    for ((name, p) <- plans)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
    // the centroid-trick isotropy must stay two hash aggregates — any
    // join in this plan means someone reintroduced the O(N^2) pair form
    val iso = planString(graft.queries.TrainOps.qEmbIsotropy(spark, sf))
    assert(!iso.contains("Join"), iso.take(2000))
    assert(iso.contains("HashAggregate"), iso.take(2000))
    // second batch: bounded-frame analytics must not cartesian either
    // (their crossJoins are broadcast one-row/7-row attaches), and the
    // narrow projections must not shuffle before their output sort
    for ((name, df) <- Seq(
        "q_cusum" -> graft.queries.DriftOps.qCusum(spark, sf),
        "q_seasonality" -> graft.queries.DriftOps.qSeasonality(spark, sf),
        "q_dau_stickiness" -> graft.queries.Windows.qDauStickiness(spark, sf),
        "q_cluster_keywords" -> graft.queries.LlmOps.qClusterKeywords(spark, sf)))
      assert(!planString(df).contains("CartesianProduct"), name)
    val read = planString(graft.queries.CurateOps.qReadability(spark, sf))
    assert(!read.contains("hashpartitioning"), read.take(2000))
    assert(!read.contains("Join"), read.take(2000))
    // third batch: rfm's quintile attach must be broadcast one-row sides
    // (no ntile corpus sort — the whole point of the bounds formulation),
    // basket pairs must keep its joins keyed, path mining TakeOrdered
    val rfm = planString(graft.queries.Aggregations.qRfm(spark, sf))
    // no Window operator at all: quintiles come from the broadcast
    // percentile AGGREGATE, never an ntile window over a global sort
    assert(!rfm.contains("Window"), rfm.take(2000))
    assert(rfm.contains("BroadcastNestedLoopJoin") ||
      rfm.contains("BroadcastExchange"), rfm.take(2000))
    val bask = planString(graft.queries.Joins.qBasketPairs(spark, sf))
    assert(!bask.contains("CartesianProduct"), bask.take(2000))
    val path = planString(graft.queries.CorpusOps.qPath3gram(spark, sf))
    assert(path.contains("TakeOrderedAndProject"), path.take(2000))
    assert(!path.contains("CartesianProduct"), path.take(2000))
  }

  test("round-11 additions: keyed joins only; aggregate-first series shapes") {
    // the graph/basket operators are equi-joins end to end — a
    // CartesianProduct or BroadcastNestedLoopJoin anywhere is a scale bug
    // (no bounded-broadcast attach exists in any of these plans)
    for ((name, df) <- Seq(
        "q_clustering_coef" ->
          graft.queries.CorpusOps.qClusteringCoef(spark, sf),
        "q_kcore" -> graft.queries.CorpusOps.qKcore(spark, sf),
        "q_assortativity" -> graft.queries.CorpusOps.qAssortativity(spark, sf),
        "q_itemsets3" -> graft.queries.CorpusOps.qItemsets3(spark, sf),
        "q_link_predict" -> graft.queries.CorpusOps.qLinkPredict(spark, sf))) {
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), s"$name:\n${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n${p.take(2000)}")
    }
    // cliffs delta inherits rankMoments' group-list attach — a bounded
    // (distinct event types) broadcast cross join is the accepted shape
    // (the q_mannwhitney precedent); a CartesianProduct is not
    val cd = planString(graft.queries.StatOps.qCliffsDelta(spark, sf))
    assert(!cd.contains("CartesianProduct"), cd.take(2000))
    // link prediction's top-50 must plan as TakeOrdered, never a global sort
    val lp = planString(graft.queries.CorpusOps.qLinkPredict(spark, sf))
    assert(lp.contains("TakeOrderedAndProject"), lp.take(2000))
    // changepoint: the weekly HashAggregate must sit BELOW the series
    // windows — the window input is the bounded (flag, week) table, so a
    // plan whose first aggregate follows the Window means someone moved
    // the rollup above the sort and re-ranked raw rows
    val cp = planString(graft.queries.DriftOps.qChangepoint(spark, sf))
    assert(cp.contains("HashAggregate") && cp.contains("Window"),
      cp.take(2000))
    assert(cp.indexOf("Window") < cp.lastIndexOf("HashAggregate"),
      "weekly aggregate must feed the window, not follow it:\n" +
        cp.take(3000))
    // qq drift: the only non-equi join is the bounded 9-row decile
    // attach; the bucket-count aggregate feeds broadcast-pruned
    // straddling-bucket rank picks (near-unique cents ⇒ a histogram
    // window would have been corpus-proportional)
    val qq = planString(graft.queries.DriftOps.qQqDrift(spark, sf))
    assert(!qq.contains("CartesianProduct"), qq.take(2000))
    assert(qq.contains("HashAggregate") && qq.contains("Window"),
      qq.take(2000))
    rankWindowsKeyedByBucket(qq)
    // span mask is a pure narrow pipeline: scan → filter → explode →
    // codegen hash/substring — any join or pre-sort shuffle means the
    // plan stopped riding the scan
    val sm = planString(graft.queries.TrainOps.qSpanMask(spark, sf))
    assert(!sm.contains("Join"), sm.take(2000))
    assert(!sm.contains("hashpartitioning"), sm.take(2000))
    // hill tail: the corpus-sized step must be TakeOrdered, never a
    // materialized global sort
    val ht = planString(graft.queries.StatOps.qHillTail(spark, sf))
    assert(ht.contains("TakeOrderedAndProject"), ht.take(2000))
    // lorenz assigns deciles from broadcast type-1 bounds picked with the
    // two-phase Ranks discipline: per-customer cents are near-unique, so
    // the earlier distinct-value histogram window was corpus-proportional
    // in disguise — now the only rank window runs inside a cents band
    // (the straddling-bucket pick) and the bounds attach by broadcast
    val lz = planString(graft.queries.Aggregations.qLorenz(spark, sf))
    assert(!lz.contains("CartesianProduct"), lz.take(2000))
    rankWindowsKeyedByBucket(lz)
    // dim-corr: ZERO joins — pair terms come off the embedding array in
    // one projection (the q_corr/embIsotropy one-pass shape); the only
    // shuffle is the d(d−1)/2-cell aggregate (an earlier form self-joined
    // the exploded components on vec_id, shuffling ~d× corpus rows)
    val dc = planString(graft.queries.TrainOps.qEmbDimcorr(spark, sf))
    assert(!dc.contains("Join"), dc.take(2000))
    // lang-confusion: keyed equi-joins only
    val lc = planString(graft.queries.LlmOps.qLangConfusion(spark, sf))
    assert(!lc.contains("CartesianProduct"), lc.take(2000))
    assert(!lc.contains("BroadcastNestedLoopJoin"), lc.take(2000))
  }

  test("two-phase rank family: no rank window is data-proportional") {
    // the r12-audit defect class: a row_number/percent_rank window
    // partitioned by a whole source / returnflag / segment (or nothing)
    // puts a data-proportional slice through ONE task. All seven former
    // offenders now rank via Ranks buckets — every rank window in their
    // plans must carry the _bkt key; the only remaining small-table
    // windows are the bounded bucket-table prefixes
    for (df <- Seq(
        graft.queries.CorpusOps.qWinsorize(spark, sf),
        graft.queries.TrainOps.qQualityGate(spark, sf),
        graft.queries.CurateOps.qPplFilter(spark, sf),
        graft.queries.CorpusOps.qSampleStratified(spark, sf),
        graft.queries.LlmOps.qMixSources(spark, sf),
        graft.queries.Aggregations.qLorenz(spark, sf),
        graft.queries.DriftOps.qQqDrift(spark, sf))) {
      val p = planString(df)
      rankWindowsKeyedByBucket(p)
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("r12 wave plans: kaplan/markov/ttr/minhash_est scale shapes hold") {
    // kaplan-meier: the survival windows run over the TENURE HISTOGRAM
    // aggregate (day-domain bounded), never a customer-sized rank window
    val km = planString(graft.queries.CorpusOps.qKaplanMeier(spark, sf))
    assert(km.contains("keys=[tenure"), km.take(2000))
    assert(!km.contains("row_number"), km.take(2000))
    assert(!km.contains("CartesianProduct"), km.take(2000))
    // markov stationary: the 8 unrolled power-iteration rounds are keyed
    // equi-joins on the state (types²-bounded matrix), never a product
    // (the lag window sits behind the matrix localCheckpoint and is the
    // q_transitions shape pinned elsewhere)
    val mk = planString(graft.queries.CorpusOps.qMarkovStationary(spark, sf))
    assert(!mk.contains("CartesianProduct"), mk.take(2000))
    assert(mk.contains("BroadcastHashJoin"), mk.take(2000))
    // ttr: narrow generate (posexplode of aligned slices, no HOF lambda
    // fallback) + doc-keyed aggregates only
    val tt = planString(graft.queries.LlmOps.qTtr(spark, sf))
    assert(tt.contains("Generate"), tt.take(2000))
    assert(tt.contains("keys=[doc_id"), tt.take(2000))
    assert(!tt.contains("CartesianProduct"), tt.take(2000))
    // minhash estimator audit: band-key equi-join candidates only — an
    // all-pairs product would silently bias the audit AND blow up at scale
    val me = planString(graft.queries.TrainOps.qMinhashEst(spark, sf))
    assert(!me.contains("CartesianProduct"), me.take(2000))
    assert(!me.contains("BroadcastNestedLoopJoin"), me.take(2000))
  }

  test("r13 wave plans: quantile grid / IQR fences / SQ8 error / markov entropy") {
    // quantile grid + IQR fences: born on the Ranks discipline — every
    // rank window keys on the cents band, never a bare returnflag
    for (df <- Seq(graft.queries.StatOps.qQuantileGrid(spark, sf),
        graft.queries.StatOps.qIqrFences(spark, sf))) {
      val p = planString(df)
      rankWindowsKeyedByBucket(p)
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
    // SQ8 error audit: two narrow passes — the only join is the d-row
    // stats broadcast; no window, no sort-merge, no product
    val sq = planString(graft.queries.TrainOps.qEmbSq8Err(spark, sf))
    assert(sq.contains("BroadcastHashJoin"), sq.take(2000))
    assert(!sq.contains("SortMergeJoin"), sq.take(2000))
    assert(!sq.contains("Window"), sq.take(2000))
    assert(!sq.contains("CartesianProduct"), sq.take(2000))
    // markov entropy: the chain rounds are keyed equi-joins (the
    // q_markov_stationary shape); the row-entropy attach is a broadcast
    val mh = planString(graft.queries.CorpusOps.qMarkovEntropy(spark, sf))
    assert(!mh.contains("CartesianProduct"), mh.take(2000))
    assert(mh.contains("BroadcastHashJoin"), mh.take(2000))
    // vocab coverage: the top-10000 cut must be TakeOrdered (never a
    // materialized global sort of the vocabulary); the K-threshold join
    // and rank window run on that bounded table
    val vc = planString(graft.queries.StatOps.qVocabCoverage(spark, sf))
    assert(vc.contains("TakeOrderedAndProject"), vc.take(2000))
    assert(!vc.contains("CartesianProduct"), vc.take(2000))
    // gap quantiles: every rank window keys on the gap band (the lag
    // window sits behind the checkpoint and is the pinned q_transitions
    // user-keyed shape)
    val gq = planString(graft.queries.StatOps.qGapQuantiles(spark, sf))
    rankWindowsKeyedByBucket(gq)
    assert(!gq.contains("CartesianProduct"), gq.take(2000))
    // token gini: no join anywhere — aggregates into the bounded
    // histogram, one cumulative window over it, one fold
    val tg = planString(graft.queries.StatOps.qTokenGini(spark, sf))
    assert(!tg.contains("Join"), tg.take(2000))
    assert(tg.contains("HashAggregate") && tg.contains("Window"),
      tg.take(2000))
  }

  test("r14 wave plans: distinct-n / entropy rate / OOV rate") {
    // distinct-n diversity: pure two-stage aggregates per n — no window,
    // no join, no product anywhere; the union is plan glue
    val dn = planString(graft.queries.StatOps.qDistinctNgrams(spark, sf))
    assert(!dn.contains("Window"), dn.take(2000))
    assert(!dn.contains("Join"), dn.take(2000))
    assert(!dn.contains("CartesianProduct"), dn.take(2000))
    assert(dn.contains("HashAggregate"), dn.take(2000))
    // entropy rate: the prefix attach is a keyed equi-join on the
    // charset^2-bounded bigram table — no window, no product
    val er = planString(graft.queries.StatOps.qEntropyRate(spark, sf))
    assert(!er.contains("Window"), er.take(2000))
    assert(!er.contains("CartesianProduct"), er.take(2000))
    // OOV rate: vocab-bounded equi-join only — no window, no product
    val ov = planString(graft.queries.StatOps.qOovRate(spark, sf))
    assert(!ov.contains("Window"), ov.take(2000))
    assert(!ov.contains("CartesianProduct"), ov.take(2000))
  }

  test("localCheckpoint(eager = false) runs an exchange's map stages at the call when AQE is on") {
    // the one-task size checks and the round loops rely on which lazy
    // checkpoints run jobs when they are taken
    import org.apache.spark.sql.functions.{count, lit}
    def grouped = spark.range(0, 1000, 1, 4).groupBy(col("id") % 7)
      .agg(count(lit(1)).as("n"))
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(jobsDuring(grouped.localCheckpoint(eager = false)) === 1)
    assert(jobsDuring(spark.range(0, 1000, 1, 4).select(col("id") % 7)
      .localCheckpoint(eager = false)) === 0) // no exchange: lazy
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(jobsDuring(grouped.localCheckpoint(eager = false)) === 0)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
