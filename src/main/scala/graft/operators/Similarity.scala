package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.{PqAdcDistances, PqEncode}
import graft.functions.VectorFunctions

/** Similarity search over embedding columns (SURVEY.md §2 B-10).
  *
  * Scale posture (100 TB):
  * - `cosineTopK` is the exact baseline: queries are broadcast, the corpus is
  *   scanned once (BroadcastNestedLoopJoin), per-partition top-k via window.
  *   Linear in corpus size × #queries — right up to a few thousand queries.
  * - `annCandidates` is the LSH path: random-projection buckets on
  *   L2-normalized vectors (euclidean order ≡ cosine order), candidates from
  *   a narrow bucket-key join, distances from the codegen cosine kernel.
  * - `ivfTopK` / `writeIvfLayout` + `probeIvfLayout` are the IVF path:
  *   k-means cells, probe nProbe of nCells; at rest the cell id is the
  *   partition directory, so probing IS partition pruning.
  *
  * Every k-means fit in this file — query paths (`ivfTopK`, `semDedup`,
  * `pqTopK`) AND the at-rest layouts (`writeIvfLayout`, `writePqLayout`) —
  * is the engine-independent [[DetQuantizer]] (no mllib dependency, one
  * quantizer to verify); the LSH
  * bucket keys are the engine's own deterministic kernel
  * ([[graft.expressions.RpBucketKeys]] — an ML-pipeline LSH transform costs
  * a per-row UDF over UDT-encoded vectors, measured ~2.5 s of overhead at
  * sf0.1 for bucket math the kernel does in ~0.2 s), and every candidate
  * join and distance evaluation is the engine's own —
  * `approxSimilarityJoin`'s interpreted per-candidate vector ops are the
  * same trap measured at 505 s on the minhash path, avoided throughout.
  */
object Similarity {

  // ---- shared building blocks ----

  /** Narrow (id, (table, bucket)) keys — one row per hash table per vector.
    * Buckets come from the engine's own codegen-adjacent kernel
    * ([[graft.expressions.RpBucketKeys]]): deterministic seeded Gaussian
    * directions, L2 normalization fused into the same pass — no model fit,
    * no UDT conversion, no per-row UDF. */
  private def lshBucketKeys(df: DataFrame, emb: String, idCol: String,
      bucketLength: Double, numHashTables: Int): DataFrame =
    df.select(col(idCol),
        posexplode(VectorFunctions.rpBucketKeys(col(emb), numHashTables,
          bucketLength)).as(Seq("t", "h")))
      .select(col(idCol), struct(col("t"), col("h")).as("bk"))

  /** [[lshBucketKeys]] over the md5-derived Rademacher family
    * ([[graft.expressions.RadBucketKeys]]) — same bucket semantics,
    * engine-independent keys, used by the ORACLE-CHECKED ANN path. */
  private def radLshBucketKeys(df: DataFrame, emb: String, idCol: String,
      bucketLength: Double, numHashTables: Int): DataFrame =
    df.select(col(idCol),
        posexplode(VectorFunctions.radBucketKeys(col(emb), numHashTables,
          bucketLength)).as(Seq("t", "h")))
      .select(col(idCol), struct(col("t"), col("h")).as("bk"))

  /** Exact-kernel rerank over candidate (q_emb, vec_id, embedding) rows +
    * window top-k — the shared tail of every top-k variant. `sim` is
    * rounded to 6 dp BEFORE ranking so the ordering is reproducible across
    * engines; ties break on corpus id. */
  private def rerankTopK(candidates: DataFrame, k: Int): DataFrame = {
    val sims = candidates
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("sim",
        round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 6))
    val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("q_id", "rnk", "vec_id", "sim")
  }

  // ---- public operators ----

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors — queries broadcast, the corpus scanned once, one
    * codegen'd single-pass kernel per pair. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    // queries: (q_id, q_emb), corpus: (vec_id, embedding)
    rerankTopK(broadcast(queries).crossJoin(corpus), k)

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nCells` cells; each query probes only its
    * `nProbe` nearest cells (integer micro-unit L2, the same metric the
    * cells were fit with) and reranks those candidates with the exact
    * codegen'd cosine kernel. The quantizer is [[DetQuantizer]] — an
    * engine-INDEPENDENT deterministic fit, so unlike the former seeded
    * mllib version the whole query is DuckDB-oracle-checkable
    * (rows+schema+hash), not merely recall-asserted. The at-rest twin is
    * `writeIvfLayout` + `probeIvfLayout`. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = DetQuantizer.fit(corpus, "embedding", "vec_id", nCells)
    val assigned = DetQuantizer.assign(corpus, "embedding", "vec_id", cents)
    val probed = DetQuantizer.probe(
      queries.select(col("q_id"), col("q_emb")), "q_emb", "q_id",
      cents, nProbe)
    rerankTopK(probed.join(assigned, "cell_id"), k)
  }

  /** Product-quantization approximate top-k (Jégou et al. 2011) — the
    * fourth ANN path beside LSH buckets, IVF cells, and SQ8 codes, and
    * the strongest at-rest compression of the family: vectors live as
    * `m` small codes (m=4, ks=16 ⇒ 4 bytes against 64 bytes of floats),
    * and the scan scores codes by asymmetric distance computation — per
    * query one m×ks exact subspace-distance table built on the driver
    * (queries are the bounded serving batch, the same boundedness the
    * exact baseline's broadcast already assumes), then `m` table lookups
    * per corpus code, no per-pair float math. The ADC scan keeps a
    * `shortlistFactor`·k shortlist per query which the EXACT codegen
    * cosine kernel reranks (the standard FAISS refine step): quantization
    * distortion may scramble near-ties inside the shortlist, but the
    * final ranking is exact over it — recall is the only approximation,
    * asserted ≥ 0.9 in SimilaritySpec on the clustered fixture. The
    * default shortlist was retuned 4k → 8k after measuring 0.69 recall
    * on that fixture: per-subspace k-means puts only ~2 centroids inside
    * each tight cluster, so within-cluster codes collide and ADC cannot
    * order same-cluster neighbours finely — the refine width, not the
    * codebook, is the recall dial (the standard PQ trade; at scale the
    * shortlist join is still ~8k rows per query against a full-corpus
    * scan of bytes).
    *
    * Both sides are L2-normalized before quantization so squared-L2 order
    * ≡ cosine order (‖a−b‖² = 2 − 2cos on the unit sphere) — PQ results
    * report the same rounded cosine `sim` as every other variant.
    * Codebooks are m seeded distributed k-means fits on subvector slices
    * (sampled at 100 TB, like the IVF quantizer); encoding is one narrow
    * kernel projection; the ADC scan is one pass over codes with a
    * per-query-bounded window — no shuffle touches raw embeddings until
    * the shortlist join. */
  /** Hard cap on the PQ serving batch: ADC tables live on the driver at
    * m×ks doubles per query, so an unbounded queries DataFrame must fail
    * instead of OOMing the driver mid-collect. 4096 queries × 4×16
    * doubles ≈ 2 MB — generous for a serving batch, trivial for the heap.
    *
    * Enforcement point (applies to [[pqTopK]] and [[ivfPqTopK]]): the cap
    * probe is FUSED into the serve tail's query collect, so an over-cap
    * batch fails only AFTER the codebook fit (and IVF build) has already
    * run — the earlier eager pre-fit guard was dropped because its extra
    * action cost a measured +26% on the probe path. When the query batch
    * is already materialized driver-side, pre-check its size yourself to
    * keep the failure cheap. */
  val MaxPqQueryBatch: Int = 4096

  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 4, ks: Int = 16, shortlistFactor: Int = 8): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"embedding dim $d not divisible by m=$m")
    val dsub = d / m
    val normC = l2normalize(corpus, "embedding")
      .localCheckpoint(eager = false) // feeds m fits + the encode pass
    val codebooks = fitPqCodebooks(normC, m, ks, dsub)
    val codes = normC.select(col("vec_id"),
      Bridge.column(PqEncode(Bridge.expression(col("embedding")), codebooks))
        .as("codes"))
    pqAdcServe(codes, codebooks, queries, corpus, k, shortlistFactor)
  }

  /** The ADC-table driver-memory guard, FUSED into the query-batch
    * collect the serve methods already pay: the collect is capped at
    * limit(cap+1) — bounding driver memory even on an oversized batch —
    * and this require turns row cap+1 into an explained failure. Zero
    * extra Spark actions (an earlier eager limit+count probe cost a full
    * extra job per serve call — measured +26% on q_bitext_margin's
    * ledger entry the round it landed). */
  private def requirePqBatch(collected: Int, cap: Int, what: String): Unit =
    require(collected <= cap,
      s"$what exceeds MaxPqQueryBatch-derived cap $cap: ADC tables are " +
        "driver-built per (query, probed cell); split the batch or use " +
        "ivfTopK")

  /** Cardinality cap for the brute-force EVAL operators ([[bitextMargin]],
    * [[annRadiusRecall]]) that broadcast their query/src side whole. The
    * cap is deliberately higher than [[MaxPqQueryBatch]] — the broadcast
    * payload is one embedding per row, not an m×ks ADC table — but finite:
    * an uncapped side turns into a driver/broadcast OOM instead of an
    * explained failure. */
  val MaxBroadcastEvalSide: Int = 65536

  /** Max rows per block of [[cosinePairsExact]]'s adaptive tile grid: two
    * tiles of this size bound each task's memory (2 × 500k × 64-dim
    * floats ≈ 256 MB) — the executor-memory contract the grid exists to
    * keep. Tile-grid economics: task memory = n/blocks rows, data
    * replication = ×blocks, so the MINIMAL grid honoring the memory cap
    * is blocks = ⌈n / MaxTileRows⌉ — any larger grid only adds shuffle. */
  val MaxTileRows: Int = 500000

  /** Default corpus cap for [[cosinePairsExact]]: the kernel is Ω(n²) BY
    * NATURE (it exists precisely for thresholds below the
    * LSH-discriminable regime — see [[cosinePairs]]), so while the tile
    * grid bounds MEMORY at any n, nothing else bounds TIME: 2×10⁶ rows
    * is ~2×10¹² kernel evals (minutes on a large cluster, the outer edge
    * of sane), while an unguarded corpus-scale call would run for days.
    * Above the cap the operator fails with the scale paths spelled out
    * ([[semDedup]] cell-confined exact pairs; [[cosinePairsGated]] at a
    * threshold where banding prunes) instead of silently burning the
    * cluster; callers that mean it pass an explicit higher `maxRows`. */
  val MaxExactPairRows: Long = 2000000L

  /** Cardinality guard FUSED INTO THE PLAN of a to-be-broadcast eval
    * side — zero extra Spark actions (an eager limit+count probe cost a
    * measured +26% on q_bitext_margin's ledger entry the round it
    * landed). A limit(cap+1) count (scans at most cap+1 rows of the
    * side, bounded regardless of its true size) rides along as a 1-row
    * broadcast, and every side row then passes through assert_true: an
    * over-cap side fails on its FIRST evaluated row — during the
    * broadcast relation build, BEFORE the driver materializes the
    * oversized side. The price of keeping the probe free is deferral:
    * the failure surfaces at action time as a SparkException wrapping
    * the explained message, not an IllegalArgumentException at call
    * time. */
  private def broadcastEvalGuarded(side: DataFrame, what: String): DataFrame = {
    val msg = s"$what exceeds MaxBroadcastEvalSide=$MaxBroadcastEvalSide " +
      "rows: this eval operator broadcasts that side whole; sample it " +
      "(the estimate is a per-pair property, sampling stays unbiased) " +
      "or split the batch"
    val probe = side.limit(MaxBroadcastEvalSide + 1)
      .agg(count(lit(1)).as("_n_probe"))
    side.crossJoin(broadcast(probe))
      .filter(coalesce(
        assert_true(col("_n_probe") <= lit(MaxBroadcastEvalSide.toLong),
          lit(msg)), lit(true)))
      .drop("_n_probe")
  }

  /** Per-subspace PQ codebooks over the L2-normalized corpus: m
    * deterministic fits on subvector slices ([[DetQuantizer]] —
    * engine-independent, so the WHOLE PQ pipeline is
    * DuckDB-oracle-checkable), submitted CONCURRENTLY — the fits are
    * independent jobs and the scheduler interleaves them, so wall time is
    * ~one fit, not m (measured 6.4 s -> ~2.5 s for the registered m=4 at
    * sf0.1 back when these were mllib fits; the det fit is the same
    * passes-over-slices shape). Centroids come back in micro-units; the
    * float codebook value is CAST(cent/1e6 AS FLOAT), the exact two-step
    * conversion the oracle mirrors. */
  private def fitPqCodebooks(normC: DataFrame, m: Int, ks: Int,
      dsub: Int): Array[Array[Array[Float]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(
      Future.sequence((0 until m).map { j => Future {
        DetQuantizer.fit(
          normC.select(col("vec_id"),
            slice(col("embedding"), j * dsub + 1, dsub).as("sub")),
          "sub", "vec_id", ks)
          .orderBy("cell_id").collect()
          .map(_.getSeq[Long](1).map(c => (c.toDouble / 1e6).toFloat).toArray)
      } }), Duration.Inf).toArray
  }

  /** ADC scan + shortlist + exact rerank over an EXISTING (vec_id, codes)
    * table — the serving tail shared by [[pqTopK]] (fresh fit + encode)
    * and [[probePqLayout]] (stored codes, no re-fit). Only the rerank
    * join touches raw embeddings; the scan itself reads codes. */
  private def pqAdcServe(codes: DataFrame,
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      corpus: DataFrame, k: Int, shortlistFactor: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val spark = codes.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val ks = codebooks(0).length
    val dsub = codebooks(0)(0).length
    // driver-built ADC tables, one per query, in a stable query order.
    // The batch cap is FUSED into this collect (limit(cap+1) bounds
    // driver memory even on an oversized batch; the require explains
    // row cap+1) — zero extra actions, and no entry point can bypass it.
    val qNorm = l2normalize(queries, "q_emb")
      .select(col("q_id"), col("q_emb")).orderBy("q_id")
      .limit(MaxPqQueryBatch + 1).collect()
    requirePqBatch(qNorm.length, MaxPqQueryBatch, "PQ query batch")
    val tables: Array[Array[Array[Double]]] = qNorm.map { r =>
      val q = r.getSeq[Float](1).toArray
      Array.tabulate(m, ks) { (j, c) =>
        val cent = codebooks(j)(c)
        var s = 0.0
        var i = 0
        while (i < dsub) {
          // widen-before-subtract, matching PqExpressions.subDistSq: the
          // double-precision oracle must see identical arithmetic here
          val diff = q(j * dsub + i).toDouble - cent(i).toDouble
          s += diff * diff
          i += 1
        }
        s
      }
    }
    val qIndex = broadcast(
      qNorm.zipWithIndex.map { case (r, i) => (i, r.getLong(0)) }
        .toSeq.toDF("qi", "q_id"))
    // The shortlist window partitions by qi (≤ MaxPqQueryBatch partitions),
    // but the scan does NOT funnel corpus-sized sorts into Q tasks: Spark's
    // InferWindowGroupLimit plants a partial WindowGroupLimit BELOW the
    // exchange, so every map task keeps only its local top-(k·shortlist)
    // per qi and the exchange moves #mapTasks·Q·(k·shortlist) rows, never
    // the corpus. That optimization is load-bearing at 100 TB, so PlanSpec
    // pins it ("pq/topk shortlist windows keep a partial WindowGroupLimit
    // below the exchange") — a Spark upgrade that dropped it would break a
    // unit test instead of an at-scale job.
    val shortW = Window.partitionBy("qi").orderBy(asc("adc"), asc("vec_id"))
    val shortlist = codes
      .select(col("vec_id"), posexplode(Bridge.column(
        PqAdcDistances(Bridge.expression(col("codes")), tables)))
        .as(Seq("qi", "adc")))
      .withColumn("srnk", row_number().over(shortW))
      .filter(col("srnk") <= k * shortlistFactor)
      .join(qIndex, "qi")
      .select("q_id", "vec_id")
    // exact rerank over the shortlist — the shared tail of every variant
    rerankTopK(shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), "q_id"), k)
  }

  /** IVF-PQ approximate top-k — the billion-scale serving composition
    * (Jégou et al. 2011, the FAISS `IVFx,PQy` index): the [[DetQuantizer]]
    * coarse quantizer partitions the corpus into `nCells` cells, every
    * vector is PQ-encoded on its RESIDUAL from its cell centroid (residual
    * magnitudes are far smaller than vector magnitudes, so the same ks
    * codes quantize much more finely than whole-vector PQ), and a query
    * scans only its `nProbe` probed cells, scoring codes against
    * per-(query, cell) ADC tables built from the query's residual in that
    * cell. IVF contributes the scan prune (nProbe/nCells of the corpus),
    * PQ the at-rest compression (m bytes per vector) — together the scan
    * cost is nProbe/nCells × m-bytes-per-row, the layout that serves
    * billion-vector search from object storage. At rest this composes
    * with [[writeIvfLayout]]'s cell-partitioned directories (probing IS
    * partition pruning) + [[writePqLayout]]'s code table.
    *
    * Fully deterministic end-to-end — coarse fit, assignment, residuals
    * (double-subtract, float-store — the exact two-step the oracle
    * mirrors), subspace fits, encode argmin, ADC sums in j order — so the
    * WHOLE composition is DuckDB-oracle-checkable like q_sim_pq, not
    * merely recall-tested. Driver state is (queries × nProbe) ADC tables,
    * guarded by [[MaxPqQueryBatch]]; the k-row centroid table and tiny
    * probed-cell list broadcast. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 8, nProbe: Int = 2, m: Int = 4, ks: Int = 16,
      shortlistFactor: Int = 8): DataFrame = {
    // batch cap enforced inside ivfPqServe, fused into its probe collect
    val (codes, cents, codebooks) = ivfPqBuild(corpus, nCells, m, ks)
    ivfPqServe(codes, cents, codebooks, queries, corpus, k, nProbe,
      shortlistFactor)
  }

  /** Fit + assign + residual-encode: the build stage shared by
    * [[ivfPqTopK]] (transient) and [[writeIvfPqLayout]] (persisted).
    * Returns (codes (vec_id, cell_id, codes), cents, codebooks). */
  private def ivfPqBuild(corpus: DataFrame, nCells: Int, m: Int,
      ks: Int): (DataFrame, DataFrame, Array[Array[Array[Float]]]) = {
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"embedding dim $d not divisible by m=$m")
    val dsub = d / m
    val nc = l2normalize(corpus, "embedding")
      .localCheckpoint(eager = false) // feeds coarse fit + assign
    val cents = DetQuantizer.fit(nc, "embedding", "vec_id", nCells)
    val res = cellResiduals(nc, cents)
      .localCheckpoint(eager = false) // feeds m fits + the encode pass
    val codebooks = fitPqCodebooks(res, m, ks, dsub)
    (pqEncodeCodes(res, codebooks), cents, codebooks)
  }

  /** Assign to cells + residual per row: (vec_id, cell_id, embedding =
    * normalized vector − centroid). The residual is SUBTRACTED IN DOUBLE
    * and STORED AS FLOAT — the identical two-step conversion the oracle
    * performs, so residuals (and everything downstream) are bit-equal. */
  private def cellResiduals(normDf: DataFrame, cents: DataFrame): DataFrame =
    DetQuantizer.assign(normDf, "embedding", "vec_id", cents)
      .join(broadcast(cents), "cell_id")
      .select(col("vec_id"), col("cell_id"),
        zip_with(col("embedding"), DetQuantizer.centToDouble(col("cent")),
          (x, c) => (x.cast("double") - c).cast("float")).as("embedding"))

  /** Residual rows → (vec_id, cell_id, codes) via the kernel encoder. */
  private def pqEncodeCodes(res: DataFrame,
      codebooks: Array[Array[Array[Float]]]): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    res.select(col("vec_id"), col("cell_id"),
      Bridge.column(PqEncode(Bridge.expression(col("embedding")),
        codebooks)).as("codes"))
  }

  /** The IVF-PQ serving tail over an EXISTING (vec_id, cell_id, codes)
    * table — shared by [[ivfPqTopK]] (fresh fit) and
    * [[probeIvfPqLayout]] (stored codes, no re-fit). */
  private def ivfPqServe(codes: DataFrame, cents: DataFrame,
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      corpus: DataFrame, k: Int, nProbe: Int,
      shortlistFactor: Int): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    val spark = codes.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val ks = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val d = m * dsub
    // probe on the SAME integer micro-unit metric the cells were fit
    // with. Driver state here is one ADC table per (query, probed cell),
    // so the cap applies to the PROBE ROWS — fused into the collect this
    // method already pays (the pqAdcServe discipline): limit(cap+1)
    // bounds driver memory, the require explains row cap+1, zero extra
    // actions, and no entry point can bypass it.
    val probeCap = MaxPqQueryBatch * nProbe
    val qn = l2normalize(queries, "q_emb")
    val probeRows = DetQuantizer.probe(
        qn.select(col("q_id"), col("q_emb")), "q_emb", "q_id", cents, nProbe)
      .select("q_id", "q_emb", "cell_id")
      .orderBy("q_id", "cell_id").limit(probeCap + 1).collect()
    requirePqBatch(probeRows.length, probeCap,
      s"IVF-PQ probe batch (queries × nProbe=$nProbe)")
    val centArr = cents.orderBy("cell_id").collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
    // one ADC table per (query, probed cell), from the query's residual
    // IN that cell — same double-subtract/float-store as the corpus side
    val tables: Array[Array[Array[Double]]] = probeRows.map { r =>
      val q = r.getSeq[Float](1).toArray
      require(q.length == d,
        s"query dim ${q.length} does not match the codebook layout (d=$d)")
      val cent = centArr(r.getInt(2))
      val qr = Array.tabulate(d)(i =>
        (q(i).toDouble - cent(i).toDouble / 1000000.0).toFloat)
      Array.tabulate(m, ks) { (j, c) =>
        val cb = codebooks(j)(c)
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val diff = qr(j * dsub + i).toDouble - cb(i).toDouble
          s += diff * diff
          i += 1
        }
        s
      }
    }
    val qIndex = broadcast(probeRows.zipWithIndex
      .map { case (r, i) => (i, r.getLong(0), r.getInt(2)) }
      .toSeq.toDF("qi", "q_id", "qcell"))
    // IVF gate FIRST, as a STATIC isin over the driver-known probed cells:
    // on the cell-partitioned at-rest layout this is plan-time partition
    // pruning (PartitionFilters on the scan — stronger than DPP, no join);
    // unprobed cells never reach the ADC kernel. Semantics-neutral: rows
    // in unprobed cells would fail every per-query qcell filter anyway.
    val probedCellVals: Seq[Int] =
      probeRows.map(_.getInt(2)).distinct.sorted.toSeq
    val shortW = Window.partitionBy("q_id").orderBy(asc("adc"), asc("vec_id"))
    val shortlist = codes
      .filter(col("cell_id").isin(probedCellVals: _*))
      .select(col("vec_id"), col("cell_id"), posexplode(Bridge.column(
        PqAdcDistances(Bridge.expression(col("codes")), tables)))
        .as(Seq("qi", "adc")))
      .join(qIndex, "qi")
      .filter(col("cell_id") === col("qcell"))
      .withColumn("srnk", row_number().over(shortW))
      .filter(col("srnk") <= k * shortlistFactor)
      .select("q_id", "vec_id")
    rerankTopK(shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("q_emb"))), "q_id"), k)
  }

  /** Johnson–Lindenstrauss dimensionality reduction by md5-Rademacher
    * projection (Achlioptas 2003 — public method): output coordinate t is
    * Σ_i sign(md5("t|i")) · xq_i over the MICRO-QUANTIZED input vector, so
    * the whole projection is int64-exact — no float summation-order
    * concern, engine-independent, full-oracle — and the signs are the
    * SAME family the LSH bucket path uses ([[graft.expressions.RadSigns]]).
    * kOut ⋘ d trades a (1±ε) pairwise-distance distortion for a d/kOut
    * shrink in scan and compute on every downstream pairwise operator; at
    * 100 TB you project ONCE at rest and run the ANN stack on the short
    * vectors (int64 sums stay safe: |xq| ≤ ~1e6·max|x|, × d=64 ≪ 2⁶³).
    * Output: `df.*` + `proj: array<long>` (micro-units). */
  def radProject(df: DataFrame, embCol: String, kOut: Int): DataFrame = {
    require(kOut >= 1, "kOut must be >= 1")
    val d = df.select(size(col(embCol))).head().getInt(0)
    // quantize ONCE per row — the kOut per-dimension folds read the same
    // micro array (quantizing inside each fold multiplied the HOF work
    // by kOut; these lambdas evaluate interpreted, so it showed)
    val proj = array((0 until kOut).map { t =>
      val signs = array((0 until d).map(i =>
        lit(graft.expressions.RadSigns.sign(t, i).toLong)): _*)
      aggregate(zip_with(col("_xq"), signs, (x, s) => x * s),
        lit(0L), (acc, v) => acc + v)
    }: _*)
    df.withColumn("_xq", DetQuantizer.microQuantize(col(embCol)))
      .withColumn("proj", proj)
      .drop("_xq")
  }

  /** Hard-negative mining for contrastive training: per query the k most
    * similar corpus vectors with a DIFFERENT label — the "looks the same,
    * isn't" examples a contrastive/reranker objective learns most from
    * (random negatives are trivially separable; these sit at the decision
    * boundary). `queries` carries (q_id, q_emb, q_label), `corpus`
    * (vec_id, embedding, label). The label predicate prunes candidates
    * BEFORE the cosine kernel; at 100 TB the same predicate composes with
    * any ANN candidate generator in this file — the exact broadcast scan
    * here is the oracle-checkable baseline, like cosineTopK. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame =
    rerankTopK(
      broadcast(queries).crossJoin(corpus)
        .filter(col("q_label") =!= col("label")), k)

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein 1998 — public
    * method) diversified top-k: greedily select the candidate maximizing
    * `λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s)` from a bounded exact-top-N
    * pool per query. The training-data angle: a plain top-k near a dense
    * mode returns k near-duplicates of each other; MMR's redundancy
    * penalty returns a DIVERSE representative set (eval-set retrieval,
    * seed selection, dedup-aware sampling).
    *
    * Scale shape: the pool is `poolSize` rows per query — corpus-
    * independent after the exact top-N scan — so the k greedy rounds run
    * on bounded data (the rounds-on-bounded-vocabulary discipline of the
    * BPE trainer).
    *
    * λ is expressed as INTEGER weights `wSim/(wSim+wDiv)` (default 7/3 =
    * 0.7) and similarities enter the greedy as 6-dp-rounded micro-unit
    * INTEGERS, so the MMR score `wSim·simᵢ − wDiv·maxselᵢ` is pure int64
    * — no float rounding anywhere in the trajectory. This is not
    * gold-plating: the float formulation `round(0.7·sim − 0.3·max, 6)`
    * lands EXACTLY on 6-dp half-way points whenever sim is a 6-dp value
    * (0.7·0.371485 = 0.2600395), and engines disagree on those ties —
    * measured divergence on the real corpus. Ties break on vec_id;
    * full-oracle via unrolled rounds ([[mmrOracleSql]]). Returns
    * (q_id, rnk, vec_id, mmr_e7) — the score in 10⁻⁷ units
    * (wSim·sim·10⁶, exact). */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      poolSize: Int = 30, wSim: Int = 7, wDiv: Int = 3): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need 1 <= k <= poolSize, got $k/$poolSize")
    require(wSim > 0 && wDiv >= 0, s"need wSim>0, wDiv>=0, got $wSim/$wDiv")
    def micro(c: Column): Column = round(c * lit(1000000.0)).cast("long")
    // bounded (queries × poolSize, poolSize² per query); feed every round
    val pool = Rounds.materialize(cosineTopK(queries, corpus, poolSize)
      .select(col("q_id"), col("vec_id"), micro(col("sim")).as("si"))
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id"))
    val pairs = Rounds.materialize(pool
      .select(col("q_id"), col("vec_id").as("x_id"), col("embedding").as("x_emb"))
      .join(pool.select(col("q_id"), col("vec_id").as("y_id"),
        col("embedding").as("y_emb")), "q_id")
      .filter(col("x_id") =!= col("y_id"))
      .select(col("q_id"), col("x_id"), col("y_id"),
        micro(round(VectorFunctions.cosine(col("x_emb"), col("y_emb")), 6))
          .as("pi")))
    val w = Window.partitionBy("q_id").orderBy(desc("mmr_e7"), asc("vec_id"))
    var rem = pool.select("q_id", "vec_id", "si")
      .withColumn("msi", lit(null).cast("long"))
    var out: DataFrame = null
    var r = 1
    while (r <= k) {
      val pick = Rounds.materialize(rem
        .withColumn("mmr_e7",
          lit(wSim.toLong) * col("si") -
            lit(wDiv.toLong) * coalesce(col("msi"), lit(0L)))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), lit(r).as("rnk"), col("vec_id"), col("mmr_e7")))
      out = if (out == null) pick else out.union(pick)
      // Spark's greatest() skips nulls, so the first update replaces the
      // null msi with pi — the oracle mirrors this with an explicit CASE.
      rem = Rounds.materialize(rem
        .join(pick.select(col("q_id"), col("vec_id").as("sel_id")), Seq("q_id"))
        .filter(col("vec_id") =!= col("sel_id"))
        .join(pairs
          .withColumnRenamed("x_id", "vec_id")
          .withColumnRenamed("y_id", "sel_id"),
          Seq("q_id", "vec_id", "sel_id"))
        .withColumn("msi", greatest(col("msi"), col("pi")))
        .select("q_id", "vec_id", "si", "msi"))
      r += 1
    }
    out
  }

  /** DuckDB mirror of [[mmrTopK]] over the embeddings table (queries =
    * vec_id < `nQueries`): the k greedy rounds unrolled as CTE pairs —
    * generated, a deterministic function of the parameters, exactly like
    * `Bpe.trainOracleSql`. All scores are int64. */
  def mmrOracleSql(k: Int, poolSize: Int = 30, wSim: Int = 7, wDiv: Int = 3,
      nQueries: Int = 3): String = {
    val rounds = (1 to k).map { r =>
      s"""pick$r AS (SELECT q_id, $r AS rnk, vec_id, mmr_e7 FROM (
         |  SELECT q_id, vec_id, mmr_e7,
         |    row_number() OVER (PARTITION BY q_id ORDER BY mmr_e7 DESC, vec_id) AS rn
         |  FROM (SELECT q_id, vec_id,
         |          $wSim * si - $wDiv * coalesce(msi, 0) AS mmr_e7
         |        FROM rem$r)) WHERE rn = 1),
         |rem${r + 1} AS MATERIALIZED (
         |  SELECT r.q_id, r.vec_id, r.si,
         |    CASE WHEN r.msi IS NULL THEN p.pi
         |         ELSE greatest(r.msi, p.pi) END AS msi
         |  FROM rem$r r
         |  JOIN pick$r s ON s.q_id = r.q_id AND r.vec_id <> s.vec_id
         |  JOIN pairs p ON p.q_id = r.q_id AND p.x_id = r.vec_id
         |    AND p.y_id = s.vec_id)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k).map(r => s"SELECT * FROM pick$r").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id < $nQueries),
       |pool AS MATERIALIZED (
       |  SELECT q_id, vec_id,
       |    CAST(round(sim * 1000000.0) AS BIGINT) AS si, embedding FROM (
       |    SELECT q_id, vec_id, sim, embedding,
       |      row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |    FROM (SELECT q.q_id, e.vec_id, e.embedding,
       |            round(list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 6) AS sim
       |          FROM q, embeddings e WHERE e.vec_id <> q.q_id))
       |  WHERE rn <= $poolSize),
       |pairs AS MATERIALIZED (
       |  SELECT a.q_id, a.vec_id AS x_id, b.vec_id AS y_id,
       |    CAST(round(round(list_cosine_similarity(
       |      a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) * 1000000.0) AS BIGINT) AS pi
       |  FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
       |rem1 AS (SELECT q_id, vec_id, si, NULL::BIGINT AS msi FROM pool),
       |$rounds
       |SELECT q_id, rnk, vec_id, mmr_e7 FROM ($unionAll)
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** Farthest-point sampling (k-center greedy, Gonzalez 1985 — public
    * method): pick the vector maximizing the minimum distance to
    * everything picked so far; seed = smallest (md5(vec_id), vec_id).
    * The coverage-maximizing coreset selector — the diversity-first
    * complement to similarity-first [[mmrTopK]] — with the classic
    * 2-approximation guarantee for the k-center radius. Distances are
    * integer micro-unit squared L2 ([[graft.expressions.LongL2Sq]]) and
    * ties break to the lowest vec_id, so the greedy trajectory is
    * engine-exact and oracle-checkable via unrolled rounds.
    *
    * Scale shape: k sequential corpus passes (inherent to the greedy) —
    * each is one broadcast of the single picked row + a narrow min-update
    * + TakeOrdered(1); the corpus itself never shuffles. At 100 TB FPS
    * runs on a uniform sample first (standard practice), then the passes
    * are sample-sized. Returns (rnk, vec_id, gap) where gap is the
    * max-min squared distance at selection time (0 for the seed). */
  def farthestPointSample(corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val e = Rounds.materialize(corpus.select(col("vec_id"),
      DetQuantizer.microQuantize(col("embedding")).as("v")))
    var pick = Rounds.materialize(
      e.withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy("h", "vec_id").limit(1)
        .select(col("vec_id"), col("v"), lit(0L).as("gap")))
    var out = pick.select(col("vec_id"), lit(1).as("rnk"), col("gap"))
    var rem = e.join(pick.select("vec_id"), Seq("vec_id"), "left_anti")
      .withColumn("mind", lit(null).cast("long"))
    var r = 2
    while (r <= k) {
      val upd = Rounds.materialize(rem
        .crossJoin(broadcast(pick.select(col("v").as("pv"))))
        .withColumn("mind", least(
          coalesce(col("mind"), lit(Long.MaxValue)),
          VectorFunctions.longL2Sq(col("v"), col("pv"))))
        .drop("pv"))
      pick = Rounds.materialize(upd.orderBy(desc("mind"), asc("vec_id"))
        .limit(1).select(col("vec_id"), col("v"), col("mind").as("gap")))
      out = out.union(pick.select(col("vec_id"), lit(r).as("rnk"), col("gap")))
      rem = upd.join(pick.select("vec_id"), Seq("vec_id"), "left_anti")
      r += 1
    }
    out.select(col("rnk"), col("vec_id"), col("gap"))
  }

  /** DuckDB mirror of [[farthestPointSample]] — unrolled rounds, pure
    * integer arithmetic. */
  def fpsOracleSql(k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""upd$r AS MATERIALIZED (
         |  SELECT r.vec_id, r.v,
         |    CAST(least(coalesce(r.mind, 9223372036854775807),
         |      list_sum(list_transform(list_zip(r.v, p.v),
         |        q -> (q[1]-q[2])*(q[1]-q[2])))) AS BIGINT) AS mind
         |  FROM rem${r - 1} r CROSS JOIN pick${r - 1} p),
         |pick$r AS MATERIALIZED (
         |  SELECT vec_id, v, mind FROM upd$r ORDER BY mind DESC, vec_id LIMIT 1),
         |o$r AS (SELECT $r AS rnk, vec_id, mind AS gap FROM pick$r),
         |rem$r AS (SELECT u.vec_id, u.v, u.mind FROM upd$r u
         |  WHERE u.vec_id <> (SELECT vec_id FROM pick$r))""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k).map(r => s"SELECT * FROM o$r").mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |pick1 AS MATERIALIZED (
       |  SELECT vec_id, v FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |o1 AS (SELECT 1 AS rnk, vec_id, 0::BIGINT AS gap FROM pick1),
       |rem1 AS (SELECT e.vec_id, e.v, NULL::BIGINT AS mind FROM e
       |  WHERE e.vec_id <> (SELECT vec_id FROM pick1)),
       |$rounds
       |SELECT rnk, vec_id, gap FROM ($unionAll)
       |ORDER BY rnk""".stripMargin
  }

  /** L2-normalize an embedding column in place (zero vectors pass
    * through). The divisor is a plain column attribute, so the transform
    * lambda does NOT re-evaluate the norm per element (the interpreted-
    * lambda trap the shingle slicing documents). */
  private def l2normalize(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("_nrm", VectorFunctions.norm(col(embCol)))
      .withColumn(embCol,
        when(col("_nrm") > 0,
          transform(col(embCol), x => (x / col("_nrm")).cast("float")))
          .otherwise(col(embCol)))
      .drop("_nrm")

  /** Centroid-based silhouette over [[DetQuantizer]] cells (the simplified
    * silhouette of Hruschka et al. 2004 — distances to centroids, never the
    * O(n²) pairwise definition): per vector a² = micro-L2² to its OWN
    * centroid, b² = min micro-L2² to any OTHER centroid,
    * s = (b²−a²)/max(a²,b²) in integer permille — the squared-distance
    * variant keeps the whole operator pure integer (truncating division,
    * identical cross-engine). Per cluster: size, mean and min silhouette
    * (→ 0 for members sitting between sub-centroids — the over-split /
    * degenerate-cluster signal), and the count of NEGATIVE members. Note
    * the invariant: under FRESH nearest-centroid assignment a² = min over
    * all centroids, so s ≥ 0 and n_negative = 0 by construction —
    * n_negative is a STALENESS guard, firing only when the scored
    * assignment predates the current centroids (an appended at-rest
    * layout whose deltas were assigned under an older fit, a serving
    * index after re-training). The cluster-QUALITY number the
    * fit-inspection pair (cluster sizes, cluster keywords) lacks.
    *
    * Scale shape: one broadcast k-row crossJoin on the assignment pass
    * (k distances per vector instead of 1 — the same full pass assignment
    * already makes); everything after is cluster-cardinality. Fit on a
    * sample at 100 TB, like the whole det-fit family. */
  def clusterSilhouette(corpus: DataFrame, k: Int): DataFrame = {
    val cents = DetQuantizer.fit(corpus, "embedding", "vec_id", k)
    DetQuantizer.assign(corpus, "embedding", "vec_id", cents)
      .withColumn("_v", DetQuantizer.microQuantize(col("embedding")))
      .crossJoin(broadcast(cents.select(col("cell_id").as("c2"), col("cent"))))
      .withColumn("d2",
        graft.functions.VectorFunctions.longL2Sq(col("_v"), col("cent")))
      .groupBy("vec_id", "cell_id")
      .agg(min(when(col("c2") === col("cell_id"), col("d2"))).as("a2"),
        min(when(col("c2") =!= col("cell_id"), col("d2"))).as("b2"))
      .withColumn("sil_pm",
        when(greatest(col("a2"), col("b2")) === 0, lit(0L))
          .otherwise(expr("(1000 * (b2 - a2)) div greatest(a2, b2)")))
      .groupBy("cell_id")
      .agg(count(lit(1)).as("n_members"),
        expr("sum(sil_pm) div count(1)").as("mean_sil_pm"),
        min("sil_pm").as("min_sil_pm"),
        sum(when(col("sil_pm") < 0, 1L).otherwise(0L)).as("n_negative"))
  }

  /** SemDeDup (Abbas et al. 2023, public method): semantic deduplication
    * by k-means clustering + within-cluster cosine pruning. For every
    * near-dup pair (cosine ≥ `simThreshold`) inside one cluster, the
    * member MORE similar to the cluster centroid is dropped (the paper's
    * keep-farthest rule: the prototype-like redundant copy goes, the
    * outlier that carries information survives); ties break to dropping
    * the higher id. The survivor set provably contains no within-cell
    * pair above the threshold: any such pair would itself have voted one
    * member out (asserted in SimilaritySpec).
    *
    * Scale shape — the SemDeDup contract: pair scoring is confined WITHIN
    * cells, Σ|cell|² ≪ N², and the cell self-join shuffles on cell_id
    * with the codegen cosine kernel doing the scoring. The quantizer fit
    * runs on a sample at 100 TB; assignment is the only full pass.
    * Returns (vec_id, cell_id, c_sim, is_kept) for every corpus vector.
    * The quantizer is [[DetQuantizer]], so the whole operator is
    * DuckDB-oracle-checkable (the survivor-invariant property tests
    * remain on top). */
  def semDedup(corpus: DataFrame, simThreshold: Double,
      nCells: Int = 16): DataFrame = {
    val cents = DetQuantizer.fit(corpus, "embedding", "vec_id", nCells)
    val assigned = DetQuantizer.assign(corpus, "embedding", "vec_id", cents)
    val withCsim = assigned
      .join(broadcast(cents), "cell_id")
      .withColumn("c_sim",
        round(VectorFunctions.cosine(col("embedding"),
          DetQuantizer.centToDouble(col("cent"))), 6))
      .select("cell_id", "vec_id", "embedding", "c_sim")
      .localCheckpoint(eager = false) // feeds both join sides + the output
    val pairs = withCsim.select(col("cell_id"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("c_sim").as("a_cs"))
      .join(withCsim.select(col("cell_id"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("c_sim").as("b_cs")), "cell_id")
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim",
        round(VectorFunctions.cosine(col("a_emb"), col("b_emb")), 6))
      .filter(col("sim") >= simThreshold)
    val removed = pairs.select(
      when(col("a_cs") > col("b_cs"), col("a_id"))
        .when(col("a_cs") < col("b_cs"), col("b_id"))
        .otherwise(col("b_id")).as("vec_id")).distinct()
    withCsim
      .join(removed.withColumn("gone", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("c_sim"),
        col("gone").isNull.as("is_kept"))
  }

  /** Materialize the IVF layout at rest: the corpus written partitioned by
    * its k-means cell id — one directory per cell. Returns the (k-row)
    * centroid table `(cell_id, cent: array<bigint> micro-units)` that
    * drives probes. The fit is [[DetQuantizer]] — the SAME
    * engine-independent quantizer every oracle-checked query path uses, so
    * the at-rest layout is reproducible cross-engine too (the former
    * seeded-mllib fit was deterministic only within this engine). At
    * 100 TB this is the similarity-search table layout: a probe touches
    * nProbe/nCells of the bytes because the filesystem layout IS the
    * index; the fit runs on a corpus sample, assignment is the only full
    * pass. */
  def writeIvfLayout(corpus: DataFrame, path: String,
      nCells: Int = 16): DataFrame = {
    val cents = DetQuantizer.fit(corpus, "embedding", "vec_id", nCells)
    DetQuantizer.assign(corpus, "embedding", "vec_id", cents)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
    cents
  }

  /** Probe the at-rest IVF layout: queries pick their `nProbe` nearest
    * cells by [[DetQuantizer.probe]]'s integer distance (the metric the
    * cells were written with), the probed (q_id, cell_id) set equi-joins
    * the partitioned corpus, and Dynamic Partition Pruning turns that join
    * into a read of ONLY the probed cell directories (asserted at plan
    * level in SimilaritySpec); rerank is the shared exact-kernel top-k
    * tail. `cents` is [[writeIvfLayout]]'s returned centroid table. */
  def probeIvfLayout(path: String, queries: DataFrame, cents: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val probed = DetQuantizer.probe(
      queries.select(col("q_id"), col("q_emb")), "q_emb", "q_id",
      cents, nProbe)
    val corpus = queries.sparkSession.read.parquet(path)
    rerankTopK(corpus.join(broadcast(probed), "cell_id"), k)
  }

  /** Materialize the PQ layout at rest — the strongest at-rest compression
    * of the ANN family (m=4 int codes against d=16 floats ⇒ 16× less scan
    * IO): codes at `$path/codes` as `(vec_id, codes)`, codebooks at
    * `$path/codebooks` as m·ks rows `(subspace, centroid_id, cent)`. Fit +
    * encode run ONCE at write time; serving reads the stored codes with no
    * re-fit ([[probePqLayout]]). At 100 TB the codebook fit runs on a
    * corpus sample like every coarse quantizer here; the encode pass is
    * the only full read of the raw embeddings. */
  def writePqLayout(corpus: DataFrame, path: String,
      m: Int = 4, ks: Int = 16): Unit = {
    import org.apache.spark.sql.graft.Bridge
    val spark = corpus.sparkSession
    import spark.implicits._
    val d = corpus.select(size(col("embedding"))).head().getInt(0)
    require(d % m == 0, s"embedding dim $d not divisible by m=$m")
    val dsub = d / m
    val normC = l2normalize(corpus, "embedding")
      .localCheckpoint(eager = false) // feeds m fits + the encode pass
    val codebooks = fitPqCodebooks(normC, m, ks, dsub)
    normC.select(col("vec_id"),
        Bridge.column(PqEncode(Bridge.expression(col("embedding")),
          codebooks)).as("codes"))
      .write.mode("overwrite").parquet(s"$path/codes")
    (for (j <- 0 until m; c <- 0 until ks) yield (j, c, codebooks(j)(c).toSeq))
      .toDF("subspace", "centroid_id", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Serve PQ top-k from the at-rest layout: the ADC scan reads the STORED
    * `(vec_id, codes)` table — no re-fit, no embedding column in the scan
    * (LayoutSpec asserts the read schema); raw embeddings are touched only
    * by the exact rerank join over the tiny shortlist, supplied by
    * `corpus` (at 100 TB that join fetches shortlist-sized rows from the
    * source table, not a second full scan). Answers are IDENTICAL to a
    * fresh [[pqTopK]] with the same (m, ks, shortlistFactor) because fit,
    * encode, and ADC are deterministic end-to-end — spec-asserted. */
  def probePqLayout(path: String, queries: DataFrame, corpus: DataFrame,
      k: Int, shortlistFactor: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    // batch cap enforced in the serve tail, fused into its query collect
    val codebooks = readCodebooks(spark, path)
    pqAdcServe(spark.read.parquet(s"$path/codes"), codebooks, queries,
      corpus, k, shortlistFactor)
  }

  /** Decode the stored codebook table back to driver arrays — the ONE
    * reader every layout probe and the append path share, with the
    * integrity checks a corrupted/partial store would otherwise turn
    * into silent mis-indexing. */
  private def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Float]]] = {
    val cb = spark.read.parquet(s"$path/codebooks")
      .orderBy("subspace", "centroid_id").collect()
    require(cb.nonEmpty, s"no PQ codebooks at $path/codebooks")
    val m = cb.iterator.map(_.getInt(0)).max + 1
    require(cb.length % m == 0 && cb.length / m ==
      cb.iterator.map(_.getInt(1)).max + 1,
      s"codebook table at $path/codebooks is not rectangular " +
        s"(${cb.length} rows, $m subspaces)")
    val ks = cb.length / m
    Array.tabulate(m, ks) { (j, c) =>
      val r = cb(j * ks + c)
      require(r.getInt(0) == j && r.getInt(1) == c,
        s"codebook table at $path/codebooks has gaps at ($j, $c)")
      r.getSeq[Float](2).toArray
    }
  }

  /** Materialize the composed IVF-PQ layout at rest — the full
    * billion-scale serving layout: residual PQ codes partitioned BY CELL
    * at `$path/codes` (probing = partition pruning AND the scan reads m
    * bytes per vector), the k-row cell-centroid table at `$path/cells`,
    * codebooks at `$path/codebooks`. Fit + assign + encode run once;
    * [[probeIvfPqLayout]] serves with no re-fit. */
  def writeIvfPqLayout(corpus: DataFrame, path: String, nCells: Int = 8,
      m: Int = 4, ks: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (codes, cents, codebooks) = ivfPqBuild(corpus, nCells, m, ks)
    codes.write.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$path/codes")
    cents.write.mode("overwrite").parquet(s"$path/cells")
    (for (j <- 0 until m; c <- 0 until ks) yield (j, c, codebooks(j)(c).toSeq))
      .toDF("subspace", "centroid_id", "cent")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Serve IVF-PQ top-k from the at-rest layout: probe cells against the
    * stored centroid table, scan ONLY the probed cell directories of the
    * stored codes (the broadcast cell join prunes partitions), score with
    * per-(query, cell) ADC tables rebuilt from the stored codebooks, and
    * exact-rerank the shortlist against `corpus`. No re-fit anywhere;
    * answers are identical to a fresh [[ivfPqTopK]] with the same
    * configuration (spec-asserted). */
  def probeIvfPqLayout(path: String, queries: DataFrame, corpus: DataFrame,
      k: Int, nProbe: Int = 2, shortlistFactor: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    // batch cap enforced in the serve tail, fused into its query collect
    val codebooks = readCodebooks(spark, path)
    ivfPqServe(spark.read.parquet(currentCodesDir(spark, path)),
      spark.read.parquet(s"$path/cells"), codebooks, queries, corpus, k,
      nProbe, shortlistFactor)
  }

  /** Append new vectors to an EXISTING IVF-PQ layout using its STORED
    * quantizers — the vector-store ingest path: assign against the stored
    * centroid table, encode residuals with the stored codebooks, and
    * append the code files into their cell partitions. No re-fit, and
    * existing files are never rewritten — ingest cost is proportional to
    * the NEW batch, which is what makes a continuously-fed vector store
    * affordable (periodic re-fit + rewrite stays a separate decision;
    * delta-tier folding is [[compactIvfPqLayout]]). Callers own id
    * uniqueness: appending an already-present vec_id stores a second
    * code row for it. A dimension mismatch against the stored codebooks
    * fails fast here — PqEncode's malformed-input → null convention
    * would otherwise append rows that every probe silently drops.
    * Appends resolve the CURRENT base generation, and like every
    * maintenance write they serialize with compaction (single writer). */
  def appendIvfPqLayout(newVectors: DataFrame, path: String): Unit =
    encodeForIvfPqLayout(newVectors, path)
      .write.mode("append").partitionBy("cell_id")
      .parquet(currentCodesDir(newVectors.sparkSession, path))

  /** Assign + residual-encode `newVectors` with the STORED quantizers of
    * the layout at `path` — the shared encode step of [[appendIvfPqLayout]]
    * (base-file append) and the streaming delta ingest
    * (`Streams.annIngestSinkBatch`, which needs the codes as a DataFrame
    * to write them batch-id-keyed for replay idempotence). */
  def encodeForIvfPqLayout(newVectors: DataFrame, path: String): DataFrame = {
    val spark = newVectors.sparkSession
    val cents = spark.read.parquet(s"$path/cells")
    val codebooks = readCodebooks(spark, path)
    val d = codebooks.length * codebooks(0)(0).length
    val dNew = newVectors.select(size(col("embedding"))).head().getInt(0)
    require(dNew == d,
      s"new vectors have dim $dNew but the layout at $path encodes d=$d")
    val nc = l2normalize(newVectors, "embedding")
    pqEncodeCodes(cellResiduals(nc, cents), codebooks)
  }

  /** Serve IVF-PQ top-k from the at-rest layout INCLUDING streaming
    * delta ingests (`$path/codes_deltas/delta=*` written by
    * `Streams.annIngestSinkBatch`): the compacted base keeps its
    * cell-partition pruning; deltas are the small recent tail (an L0
    * level — [[compactIvfPqLayout]] periodically folds them into the
    * next base generation with snapshot-isolated readers). Codes from
    * both tiers score identically — same stored quantizers. */
  def probeIvfPqLayoutAll(path: String, queries: DataFrame,
      corpus: DataFrame, k: Int, nProbe: Int = 2,
      shortlistFactor: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    // batch cap enforced in the serve tail, fused into its query collect
    val codebooks = readCodebooks(spark, path)
    ivfPqServe(committedCodes(spark, path),
      spark.read.parquet(s"$path/cells"), codebooks,
      queries, corpus, k, nProbe, shortlistFactor)
  }

  /** The CURRENT base-codes directory of the layout at `path`: `codes`
    * until the first compaction, then the generation directory the
    * manifest names. Every reader and the base-append path resolve
    * through here so compaction can retire old generations. */
  def currentCodesDir(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    DeltaStore.baseDir(s"$path/codes", DeltaStore.current(spark, path))

  /** The committed code SNAPSHOT of an at-rest IVF-PQ layout: the current
    * base generation ∪ every UNFOLDED `delta=*` child holding at least
    * one COMMITTED data file (ids below the manifest's `foldedBelow`
    * watermark are already in the base — their directories, if a replay
    * recreated them, are garbage awaiting GC, never re-counted). An
    * existing-but-empty deltas dir (every delta compacted away) or a
    * child with only in-flight `_temporary` committer files serves the
    * base alone — and, crucially, is not conflated with a real failure.
    * Deltas are read PER DIRECTORY and union'd by name, so schema drift
    * in any committed delta fails loudly instead of silently dropping
    * committed vectors (S24 pins both behaviors). The manifest read is
    * one atomic small-file resolve ([[DeltaStore]]), so a probe racing
    * [[compactIvfPqLayout]] sees the pre- or post-fold snapshot — equal
    * in content — never a torn mix. Public: this IS the serving-snapshot
    * definition, shared by the Scala probe and the SQL layout views. */
  def committedCodes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val snap = DeltaStore.current(spark, path)
    val base = spark.read.parquet(
      DeltaStore.baseDir(s"$path/codes", snap))
    DeltaStore.committedDeltaIds(spark, s"$path/codes_deltas",
        snap.foldedBelow)
      .map(i => spark.read.parquet(s"$path/codes_deltas/delta=$i"))
      .foldLeft(base)(_.unionByName(_, allowMissingColumns = false))
  }

  /** Fold every committed streaming delta of the layout at `path` into
    * the next base-codes generation (keeping the cell-partitioned
    * at-rest shape — probing stays partition pruning) and atomically
    * publish the new snapshot — the L0→base compaction the delta tier
    * was designed around: with continuous S22 ingest the delta listing
    * grows one directory per micro-batch, and the per-probe union plan
    * grows with it; compaction returns the layout to one base scan.
    *
    * Concurrency contract (proven in StreamingSpec): a concurrent
    * [[probeIvfPqLayoutAll]] reader resolves ONE manifest — before the
    * publish it serves the old generation plus the folded deltas (all
    * still on disk), after it the folded generation plus any newer
    * deltas; both equal the same logical snapshot, so a probe
    * mid-compaction ≡ a probe pre-compaction. The superseded generation
    * and folded delta dirs are deleted by the NEXT compaction's grace GC
    * ([[DeltaStore.gcSuperseded]]), one full cycle later. Deltas written
    * WHILE this compaction runs (ids past the fold watermark) stay
    * unfolded and serve normally; a replayed already-folded batch id
    * rewrites a below-watermark directory that readers ignore and GC
    * sweeps. Single maintenance writer at a time (ingest and compaction
    * serialized by the caller — S22's operating posture).
    *
    * `midCompactionHook` is a test seam: it runs after the folded
    * generation is fully written, before the manifest publish. */
  def compactIvfPqLayout(spark: org.apache.spark.sql.SparkSession,
      path: String, midCompactionHook: () => Unit = () => ()): Unit = {
    val snap0 = DeltaStore.current(spark, path)
    DeltaStore.gcSuperseded(spark, s"$path/codes", s"$path/codes_deltas",
      snap0)
    val ids = DeltaStore.committedDeltaIds(spark, s"$path/codes_deltas",
      snap0.foldedBelow)
    if (ids.isEmpty) return
    val next = DeltaStore.Snapshot(snap0.gen + 1L, ids.max + 1L)
    val base = spark.read.parquet(
      DeltaStore.baseDir(s"$path/codes", snap0))
    // fold EXACTLY the listed ids — a delta landing mid-compaction (id
    // past the watermark) must stay out of this generation or it would
    // be served twice
    ids.map(i => spark.read.parquet(s"$path/codes_deltas/delta=$i"))
      .foldLeft(base)(_.unionByName(_, allowMissingColumns = false))
      .write.mode("overwrite").partitionBy("cell_id")
      .parquet(DeltaStore.baseDir(s"$path/codes", next))
    midCompactionHook()
    DeltaStore.publish(spark, path, next)
  }

  /** Generated Spark SQL reproducing [[probeIvfPqLayoutAll]] over the
    * layout views registered by `Tables.registerLayoutViews` — the SQL
    * door to the at-rest ANN index: a SQL-only consumer (notebook, BI
    * tool, `spark-sql` shell) runs the ENTIRE read path — query
    * normalization, integer micro-unit cell probe, residual ADC tables,
    * IVF-gated shortlist, exact rerank — without touching the Scala API.
    * Every stage mirrors the Scala operator's arithmetic exactly (the
    * DetQuantizer micro metric is pure int64; residuals are
    * double-subtract/float-store; subspace distances accumulate
    * left-to-right in double), and the generated-SQL discipline is the
    * same as [[DetQuantizer.fitSqlCtes]] / `Bpe.trainOracleSql`. The one
    * permitted divergence: the per-vector ADC sum over subspaces is an
    * unordered SQL SUM, so last-ulp float drift can reorder shortlist
    * ties — invisible to the final top-k whenever the shortlist is not
    * truncation-tight (SqlSurfaceSpec proves row-identical output against
    * the Scala probe with a generous shortlist). Needs `cosine_sim` from
    * [[graft.GraftExtensions]] for the exact rerank kernel.
    *
    * @param queriesView view with (q_id, q_emb) — the serving batch
    * @param corpusView  view with (vec_id, embedding) — rerank source
    * @param prefix      the `Tables.registerLayoutViews` prefix */
  def annProbeSql(queriesView: String, corpusView: String, k: Int,
      nProbe: Int = 2, shortlistFactor: Int = 8,
      prefix: String = "ann"): String = {
    // view names and the prefix are spliced into SQL text: restrict them
    // to plain identifiers so a caller cannot smuggle SQL through them
    Seq(queriesView, corpusView, prefix).foreach(SqlIdent.require)
    require(k >= 1 && nProbe >= 1 && shortlistFactor >= 1,
      s"k, nProbe, shortlistFactor must be >= 1; " +
        s"got ($k, $nProbe, $shortlistFactor)")
    val p = prefix
    s"""WITH qn AS (
       |  SELECT q_id,
       |    CASE WHEN nrm > 0
       |      THEN transform(q_emb, x -> CAST(x / nrm AS FLOAT))
       |      ELSE q_emb END AS q_emb
       |  FROM (SELECT q_id, q_emb,
       |          sqrt(aggregate(q_emb, CAST(0.0 AS DOUBLE),
       |            (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
       |        FROM $queriesView)),
       |probed AS (
       |  SELECT q_id, q_emb, cell_id, cent FROM (
       |    SELECT q.q_id, q.q_emb, c.cell_id, c.cent,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY
       |        aggregate(zip_with(
       |            transform(q.q_emb,
       |              x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
       |            c.cent, (a, b) -> (a - b) * (a - b)),
       |          CAST(0 AS BIGINT), (s, x) -> s + x),
       |        c.cell_id) AS rn
       |    FROM qn q CROSS JOIN ${p}_cells c)
       |  WHERE rn <= $nProbe),
       |dims AS (SELECT size(cent) AS dsub FROM ${p}_codebooks LIMIT 1),
       |resid AS (
       |  SELECT q_id, cell_id,
       |    zip_with(q_emb, cent,
       |      (x, c) -> CAST(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000.0 AS FLOAT)) AS qr
       |  FROM probed),
       |subdist AS (
       |  SELECT r.q_id, r.cell_id, b.subspace, b.centroid_id,
       |    aggregate(zip_with(slice(r.qr, b.subspace * d.dsub + 1, d.dsub), b.cent,
       |        (x, c) -> CAST(x AS DOUBLE) - CAST(c AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE), (s, dd) -> s + dd * dd) AS sd
       |  FROM resid r CROSS JOIN dims d CROSS JOIN ${p}_codebooks b),
       |codepos AS (
       |  SELECT v.vec_id, v.cell_id, pe.j, pe.c
       |  FROM ${p}_codes v LATERAL VIEW posexplode(v.codes) pe AS j, c),
       |adc AS (
       |  SELECT s.q_id, cp.vec_id, sum(s.sd) AS adc
       |  FROM codepos cp
       |  JOIN subdist s
       |    ON s.cell_id = cp.cell_id AND s.subspace = cp.j
       |      AND s.centroid_id = cp.c
       |  GROUP BY s.q_id, cp.vec_id),
       |shortlist AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS srnk
       |    FROM adc)
       |  WHERE srnk <= ${k * shortlistFactor})
       |SELECT q_id, rnk, vec_id, sim FROM (
       |  SELECT s.q_id, c.vec_id,
       |    round(cosine_sim(q.q_emb, c.embedding), 6) AS sim,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY round(cosine_sim(q.q_emb, c.embedding), 6) DESC,
       |        c.vec_id) AS rnk
       |  FROM shortlist s
       |  JOIN $corpusView c ON c.vec_id = s.vec_id
       |  JOIN $queriesView q ON q.q_id = s.q_id
       |  WHERE s.q_id <> c.vec_id)
       |WHERE rnk <= $k
       |ORDER BY q_id, rnk""".stripMargin
  }

  /** Cosine-threshold SELF-join (embedding near-dup pairs) with a MEASURED
    * regime dispatch:
    *
    * - `minSim >= gateRegimeMinSim` (true near-dup territory): the
    *   LSH-bucketed candidate gate [[cosinePairsGated]] — sub-quadratic,
    *   every candidate verified by the exact codegen kernel.
    * - below it: the blocked-exact kernel join [[cosinePairsExact]].
    *
    * Why dispatch instead of always gating: on unit vectors in d dims,
    * random-pair cosine concentrates as N(0, 1/√d) — ±0.375 at 3σ for
    * d = 64 — so a low threshold like 0.45 sits in the bulk's tail where no
    * LSH family discriminates. Sign-LSH bit-match probability is
    * 1 − θ/π: 0.648 at cos 0.45 vs 0.5 at cos 0 — an r-bit band separates
    * the two by only 1.296^r, so full recall at that threshold needs
    * thousands of bands (i.e. the all-pairs join back again, with
    * overhead). Measured at sf0.1 (2 000 × d64): the bucket gate passed
    * 98.4% of all pairs and spent 3.7 s building+deduping candidates the
    * 0.9 s exact kernel pass would have scored anyway — the gate can only
    * LOSE below the concentration tail. Above it (≥ ~0.7) band selectivity
    * collapses the candidate set and the gate wins — that regime keeps the
    * gated path. */
  def cosinePairs(corpus: DataFrame, minSim: Double,
      bucketLength: Double = 2.0, numHashTables: Int = 6,
      gateRegimeMinSim: Double = 0.7): DataFrame =
    if (minSim >= gateRegimeMinSim)
      cosinePairsGated(corpus, minSim, bucketLength, numHashTables)
    else cosinePairsExact(corpus, minSim)

  /** Blocked-exact cosine pairs: every unordered pair scored once by the
    * codegen kernel. This is the distributed block-nested-loop (GEMM) shape,
    * NOT a driver-side or broadcast crossJoin: ids hash into `nBlocks`
    * blocks, a tiny (nBlocks²/2)-row block-pair table broadcasts, and each
    * shuffle task scores one block×block tile — per-task memory is two
    * n/nBlocks-row tiles regardless of corpus size, and parallelism is the
    * (elastic) block-pair count. Exact threshold-joins below the LSH-useful
    * regime are Ω(n²) by nature; what scale tuning controls is the constant
    * (single-pass codegen kernel, no candidate materialization) and the
    * tile size (`nBlocks` ∝ √corpus).
    *
    * `nBlocks` DEFAULTS TO ADAPTIVE (`nBlocks = 0`): one count() sizes the
    * grid to `max(32, ceil(n / MaxTileRows))` — the count is noise against
    * an Ω(n²) kernel pass, and a FIXED grid silently breaks the per-task
    * memory claim above: 32 blocks over 10⁹ rows is a 31M-row (multi-GB)
    * tile per task, an executor OOM no correctness check would ever see.
    * The memory-minimal rule is linear in n (task memory = n/blocks;
    * replication = ×blocks, so a larger-than-necessary grid only adds
    * shuffle). At the test scales the adaptive grid resolves to the
    * historical 32 (ledger-stable); it departs only when a tile would
    * outgrow [[MaxTileRows]]. Pass an explicit positive `nBlocks` to pin
    * the grid.
    *
    * `maxRows` guards the Ω(n²) time bill (see [[MaxExactPairRows]]):
    * the same count() that sizes the grid feeds the guard — no extra
    * action — and a corpus past the cap fails with the documented scale
    * paths instead of running for days. maxRows <= 0 disables the guard
    * (an explicit opt-in to unbounded quadratic work).
    *
    * MEASURED REJECTION — RP prefilter (r13 verdict task 5, the
    * PPJoin+-suffix-filter precedent): a [[radProject]] 16-dim projection
    * bound ahead of this kernel was measured and rejected
    * (tools/rp_prefilter_probe.py over the full 2M-pair set of the sf0.1
    * embeddings, byte-exact replication of microQuantize + RadMatrix
    * signs). The only ORACLE-SAFE margin is the certain Cauchy–Schwarz
    * bound ‖Δproj‖² ≤ k·d·‖Δx‖² (k·d = 1024): it pruned 0 of 1 999 000
    * pairs — the observed ratio maxes at 53 (concentration ~χ²ₖ around
    * k = 16), a 19× gap below the bound, so the certain gate can never
    * fire on real data. The best LOSSY margin keeping 100% recall on the
    * measured data (30.6×, data-dependent) pruned 39.8% — against the
    * prefilter's own ~k/d = 25% kernel-cost overhead that is a ≤15%
    * best-case net, bought by gambling the hash-exact oracle on an
    * empirical margin with no guarantee for unseen pairs. Below the
    * LSH-discriminable regime the projection concentrates for the same
    * reason banding fails (cosine bulk ~N(0, 1/√d)); the blocked-exact
    * kernel with the row cap stays the honest plan. */
  def cosinePairsExact(corpus: DataFrame, minSim: Double,
      nBlocks: Int = 0, maxRows: Long = MaxExactPairRows): DataFrame = {
    import corpus.sparkSession.implicits._
    val n = corpus.count()
    require(maxRows <= 0 || n <= maxRows,
      s"cosinePairsExact corpus has $n rows > MaxExactPairRows cap " +
        s"$maxRows: the exact threshold self-join is Ω(n²) by nature " +
        "below the LSH-discriminable regime. At corpus scale use " +
        "Similarity.semDedup (cell-confined exact pairs), " +
        "cosinePairsGated at a threshold >= ~0.7 where banding prunes, " +
        "or pass a higher maxRows deliberately")
    val blocks =
      if (nBlocks > 0) nBlocks
      else math.max(32, math.ceil(n.toDouble / MaxTileRows).toInt)
    val bp = (for (i <- 0 until blocks; j <- i until blocks) yield (i, j))
      .toDF("bi", "bj")
    val blocked = corpus.select(col("vec_id"), col("embedding"),
      pmod(hash(col("vec_id")), lit(blocks)).as("blk"))
    blocked
      .select(col("vec_id").as("x_id"), col("embedding").as("x_emb"),
        col("blk").as("bi"))
      .join(broadcast(bp), "bi")
      .join(blocked.select(col("vec_id").as("y_id"),
        col("embedding").as("y_emb"), col("blk").as("bj")), "bj")
      // same-block tiles dedup on id order; cross-block tiles meet exactly
      // once (bi < bj) and canonicalize below
      .filter(col("bi") =!= col("bj") || col("x_id") < col("y_id"))
      .withColumn("sim",
        round(VectorFunctions.cosine(col("x_emb"), col("y_emb")), 6))
      .filter(col("sim") >= minSim)
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"), col("sim"))
  }

  /** LSH-bucketed cosine pairs: candidates share a random-projection bucket
    * in at least one hash table; every candidate is then verified by the
    * exact codegen'd cosine kernel, so the bucketing only affects recall,
    * never emits a false pair. The candidate stream is de-duplicated
    * BEFORE the embedding-attach joins: a pair colliding in k of the hash
    * tables appears k times, and the distinct is a shuffle of two longs per
    * candidate, while every duplicate surviving past it would drag two full
    * embedding payloads through the attach joins and the kernel. Use via
    * [[cosinePairs]], which routes only the thresholds where banding
    * actually prunes (see the regime note there). */
  def cosinePairsGated(corpus: DataFrame, minSim: Double,
      bucketLength: Double = 2.0, numHashTables: Int = 6): DataFrame = {
    val keys = lshBucketKeys(corpus, "embedding", "vec_id",
      bucketLength, numHashTables)
    keys.select(col("vec_id").as("a_id"), col("bk"))
      .join(keys.select(col("vec_id").as("b_id"), col("bk")), "bk")
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
      .join(corpus.select(col("vec_id").as("a_id"),
        col("embedding").as("a_emb")), "a_id")
      .join(corpus.select(col("vec_id").as("b_id"),
        col("embedding").as("b_emb")), "b_id")
      .withColumn("sim",
        round(VectorFunctions.cosine(col("a_emb"), col("b_emb")), 6))
      .filter(col("sim") >= minSim)
      .select("a_id", "b_id", "sim")
  }

  /** Scalar-quantized (SQ8) top-k: each dimension is quantized to 8 bits
    * against per-dimension corpus min/max, and ranking runs on the
    * DEQUANTIZED vectors — the compressed-vector scale path (4× less
    * at-rest IO and cache footprint than float32; at 100 TB the quantized
    * table is what the scan reads, with exact rerank over the tiny top-k
    * candidate set as the optional refinement). Unlike LSH/IVF this is
    * deterministic arithmetic end-to-end, so the whole path is
    * oracle-checkable: the DuckDB oracle reproduces the same quantize →
    * dequantize → rounded-cosine ranking bit-for-bit.
    *
    * Plan shape: the per-dimension stats are one posexplode aggregate
    * folded to a single broadcast row (never a driver collect); quantization
    * is a per-row projection; ranking is the shared exact-kernel tail. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val stats = corpus
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .agg(
        sort_array(collect_list(struct(col("i"), col("mn")))).as("mns"),
        sort_array(collect_list(struct(col("i"), col("mx")))).as("mxs"))
      .select(
        transform(col("mns"), s => s.getField("mn")).as("mn"),
        transform(col("mxs"), s => s.getField("mx")).as("mx"))
    // dequantized value = mn + round((x−mn)·255/(mx−mn))·(mx−mn)/255 —
    // written in exactly this operation order on both engines. A constant
    // dimension (mx == mn) dequantizes to mn.
    def dq(emb: Column): Column =
      transform(
        arrays_zip(emb.cast("array<double>"), col("mn"), col("mx")),
        s => {
          val (x, mn, mx) = (s.getField("0"), s.getField("mn"), s.getField("mx"))
          when(mx > mn,
            mn + round((x - mn) * lit(255.0) / (mx - mn)) * (mx - mn) / lit(255.0))
            .otherwise(mn)
        })
    val cq = corpus.crossJoin(broadcast(stats))
      .select(col("vec_id"), dq(col("embedding")).as("embedding"))
    val qq = queries.crossJoin(broadcast(stats))
      .select(col("q_id"), dq(col("q_emb")).as("q_emb"))
    rerankTopK(broadcast(qq).crossJoin(cq), k)
  }

  /** Approximate nearest neighbours via random-projection LSH buckets.
    * Vectors are L2-normalized first so euclidean NN order == cosine order.
    * Returns (q_id, vec_id, dist) candidate pairs within `maxDistance`,
    * where dist is the euclidean distance between the normalized vectors
    * (= √(2 − 2·cosine)).
    *
    * Default bucket/table settings are sized for ≥ 0.9 recall at the
    * query-time radius this engine registers (1.3 on normalized vectors):
    * per-table collision probability falls with radius/bucketLength, and
    * OR-amplification over the 8 tables lifts the measured recall from
    * 0.44 (old 0.5/4 config) past 0.9 — asserted against the brute-forced
    * neighbour set in SimilaritySpec. Wider buckets admit more candidates
    * per table, but the exact-distance verify step keeps false positives
    * at zero; the cost is verify-join width, the currency recall is
    * bought with in every OR-amplified LSH. */
  def annCandidates(queries: DataFrame, corpus: DataFrame,
      maxDistance: Double, bucketLength: Double = 1.5,
      numHashTables: Int = 8): DataFrame = {
    val cands = radLshBucketKeys(queries, "q_emb", "q_id",
        bucketLength, numHashTables)
      .join(radLshBucketKeys(corpus, "embedding", "vec_id",
        bucketLength, numHashTables), "bk")
      .filter(col("q_id") =!= col("vec_id"))
      .select("q_id", "vec_id")
      .distinct()
    cands
      .join(queries.select(col("q_id"), col("q_emb")), "q_id")
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("dist",
        sqrt(greatest(lit(0.0),
          lit(2.0) - lit(2.0) *
            VectorFunctions.cosine(col("q_emb"), col("embedding")))))
      .filter(col("dist") <= maxDistance)
      .select("q_id", "vec_id", "dist")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, public method):
    * for each source vector, the target whose RATIO margin
    * `2k·cos(x,y) / (Σ_{z∈NNk(x)} cos(x,z) + Σ_{z∈NNk(y)} cos(y,z))`
    * is highest — absolute cosine over-selects hub vectors whose
    * neighbourhood is uniformly close; dividing by both local
    * neighbourhood averages keeps only pairs that stand OUT of their
    * neighbourhoods, the standard parallel-corpus mining score.
    *
    * Engine-exact: cosines are 6-dp-rounded then micro-quantized
    * ([[mmrTopK]]'s discipline), neighbourhood sums are int64 sums of k
    * bounded terms, and the margin is one integer floor division to
    * permille — no float accumulation anywhere, so the whole mine is
    * DuckDB-oracle-checkable. Negative/zero denominators (both
    * neighbourhoods anti-aligned — no meaningful margin) are dropped.
    *
    * Plan shape: one src×tgt kernel pass; both directional top-k windows
    * prune to k rows per key BEFORE their shuffles (Spark's partial
    * WindowGroupLimit, the PlanSpec-pinned shortlist shape), so the
    * neighbourhood sums aggregate bounded data. At 100 TB the pair scan
    * is the cost — swap it for the ANN candidate stack (IVF-PQ shortlist
    * + exact rerank yields the same top-k with measured recall) and keep
    * this exact scoring tail.
    *
    * Guard contract: the src side rides the fused in-plan cardinality
    * guard ([[MaxBroadcastEvalSide]]) — an over-cap side fails at ACTION
    * time as a `SparkException` wrapping the explanatory message, not an
    * `IllegalArgumentException` at call time (the probe is fused into
    * the plan precisely so the happy path pays nothing, and the
    * optimizer may even elide it under aggressive pruning). Callers must
    * not rely on fail-before-work or catch IAE around this call. */
  def bitextMargin(src: DataFrame, tgt: DataFrame, k: Int,
      minMarginPermille: Long = 1000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    def micro(c: Column): Column = round(c * lit(1000000.0)).cast("long")
    val sims = broadcast(broadcastEvalGuarded(
        src.select(col("s_id"), col("s_emb")), "bitextMargin src side"))
      .crossJoin(tgt.select(col("t_id"), col("t_emb")))
      .select(col("s_id"), col("t_id"),
        micro(round(VectorFunctions.cosine(col("s_emb"), col("t_emb")), 6))
          .as("sim_micro"))
      .localCheckpoint() // one kernel pass feeds both directions + scoring
    val wF = Window.partitionBy("s_id").orderBy(desc("sim_micro"), asc("t_id"))
    val fwd = sims.withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= k)
    val fwdSum = fwd.groupBy("s_id").agg(sum("sim_micro").as("sumk_s"))
    val wB = Window.partitionBy("t_id").orderBy(desc("sim_micro"), asc("s_id"))
    val bwdSum = sims.withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= k)
      .groupBy("t_id").agg(sum("sim_micro").as("sumk_t"))
    // positive-sim candidates only: a negative cosine is never a mined
    // pair, and it keeps every division positive — where Spark's
    // truncating DIV and DuckDB's flooring // agree (they diverge on
    // negative numerators, a cross-engine trap)
    val scored = fwd.select("s_id", "t_id", "sim_micro")
      .filter(col("sim_micro") > 0)
      .join(fwdSum, "s_id")
      .join(bwdSum, "t_id")
      .filter(col("sumk_s") + col("sumk_t") > 0)
      .withColumn("margin_permille",
        expr(s"(2 * $k * sim_micro * 1000) DIV (sumk_s + sumk_t)"))
    val wBest = Window.partitionBy("s_id")
      .orderBy(desc("margin_permille"), asc("t_id"))
    scored.withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1 && col("margin_permille") >= minMarginPermille)
      .select("s_id", "t_id", "sim_micro", "margin_permille")
  }

  /** In-engine ANN recall estimator — the tuning loop for the LSH gate's
    * (bucketLength, numHashTables) knobs. [[annCandidates]] verifies every
    * candidate with the exact kernel, so candidates ⊆ true radius
    * neighbours and recall is a pure COUNT ratio: per query,
    * n_cand / n_true over the brute-forced dist ≤ maxDistance set.
    * recall_permille is integer floor division (engine-exact); a query
    * with NO true neighbours scores a vacuous 1000.
    *
    * Scale posture: the brute-force truth side is the estimator's price —
    * at 100 TB you run it on a SAMPLED query set against a SAMPLED corpus
    * slice (recall is a per-pair property; sampling the corpus estimates
    * it unbiased), while the candidate side is the production operator
    * unchanged. The estimate then decides whether to widen buckets or add
    * tables BEFORE the full-corpus run — measured, not guessed.
    *
    * Guard contract: the query side rides the fused in-plan cardinality
    * guard ([[MaxBroadcastEvalSide]]) — an over-cap side fails at ACTION
    * time as a `SparkException` wrapping the explanatory message, not an
    * `IllegalArgumentException` at call time; a plan that prunes the
    * guarded side entirely (e.g. a bare `count()` of the other branch)
    * may not evaluate the guard at all. Best-effort by construction —
    * never catch IAE around this call. */
  def annRadiusRecall(queries: DataFrame, corpus: DataFrame,
      maxDistance: Double, bucketLength: Double = 1.5,
      numHashTables: Int = 8): DataFrame = {
    val cand = annCandidates(queries, corpus, maxDistance,
        bucketLength, numHashTables)
      .groupBy("q_id").agg(count(lit(1)).as("n_cand"))
    val truth = broadcast(broadcastEvalGuarded(
        queries.select(col("q_id"), col("q_emb")),
        "annRadiusRecall query side"))
      .crossJoin(corpus.select(col("vec_id"), col("embedding")))
      .filter(col("q_id") =!= col("vec_id"))
      .filter(sqrt(greatest(lit(0.0),
        lit(2.0) - lit(2.0) *
          VectorFunctions.cosine(col("q_emb"), col("embedding"))))
        <= maxDistance)
      .groupBy("q_id").agg(count(lit(1)).as("n_true"))
    // anchor on the query list: a query with zero true neighbours (absent
    // from both grouped sides) must still emit its vacuous-1000 row
    queries.select("q_id")
      .join(truth, Seq("q_id"), "left")
      .join(cand, Seq("q_id"), "left")
      .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      .withColumn("recall_permille",
        when(col("n_true") === 0, lit(1000L))
          .otherwise(expr("n_cand * 1000 DIV n_true")))
  }
}
