package graft.operators

import java.math.BigInteger

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Duplicate-cluster resolution: connected components over a near-duplicate
  * pair list (SURVEY.md §2 B-10). Pairwise dedup operators (exact /
  * n-gram-Jaccard / MinHash / SimHash / embedding-cosine) emit EDGES; a real
  * pipeline must then group transitively-connected documents into one
  * cluster and keep a single canonical representative — A~B and B~C must
  * collapse to one kept document even when A~C was never emitted as a pair.
  *
  * Algorithm: iterative min-label propagation with path compression.
  * Each round every vertex takes the minimum label among itself and its
  * neighbours (one shuffle: edge-label join + min aggregate), then labels
  * are compressed one hop (`comp := comp(comp)`, a self-join) — the
  * pointer-halving step that turns O(diameter) convergence into
  * O(log diameter) rounds, the same round bound as the large-star/small-star
  * MapReduce formulation. Every round is a constant number of
  * hash-partitioned joins on vertex id — no single-partition step anywhere,
  * so each round scales like any other shuffle; `localCheckpoint` truncates
  * the growing lineage (the standard iterative-DataFrame requirement — at
  * production scale a reliable `checkpoint()` dir instead).
  *
  * Convergence is detected by an exact changed-label count per round (an
  * `isEmpty` probe — stops at the fixpoint rather than running a worst-case
  * round budget).
  */
object Clusters {

  /** Connected components of the undirected graph given by `edges`
    * (`aCol`, `bCol`): returns (id, comp) with `comp` = the minimum vertex
    * id reachable from `id`. Only vertices that appear in `edges` are
    * returned — isolated documents are their own (implicit) cluster and are
    * reattached by the caller with a left join + coalesce.
    *
    * Size dispatch (same discipline as `Similarity.cosinePairs`): the edge
    * set of a dedup pass is the NEAR-DUP RATE times the corpus, orders of
    * magnitude smaller than the corpus itself, and the iterative loop costs
    * O(log diameter) rounds of full-graph shuffles plus per-round driver
    * scheduling REGARDLESS of size. Up to [[OneTask.MaxRows]] edges the exact
    * union-find runs inside ONE task ([[componentsOneTask]]) — one job, no
    * rounds. Above it, the label-propagation loop is the scale path. Both
    * produce identical (id, min-reachable-id) output. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val e = edges
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    componentsOneTask(e).getOrElse(componentsRounds(e, maxIter))
  }

  /** Exact union-find (path halving + union-by-min) over the whole edge
    * list in one task ([[OneTask.run]]), or None above the cap. */
  private def componentsOneTask(e: DataFrame): Option[DataFrame] = {
    val schema = new StructType().add("id", LongType).add("comp", LongType)
    OneTask.run(e, schema) { it =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val p = parent(x)
          parent(x) = parent.getOrElse(p, p) // path halving
          x = parent(x)
        }
        x
      }
      it.map(r => (r.getLong(0), r.getLong(1))).foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by min id — the min IS the component label
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      parent.keysIterator.map(v => Row(v, find(v))).toArray.iterator
    }.map(_.repartition(col("id")))
  }

  /** Iterative min-label propagation with path compression — the
    * any-size scale path. Each round: neighbour-min join + one-hop
    * compression (`comp := comp(comp)`, the pointer-halving step that turns
    * O(diameter) convergence into O(log diameter) rounds), each a
    * hash-partitioned join on vertex id — no single-partition step. The
    * round result is checkpointed ONCE with its change flag, so the
    * convergence probe reads cached blocks instead of re-running the
    * compression join (and the next round re-running it again — Spark has
    * no plan-level CSE). `e` is (src: bigint, dst: bigint), read once. */
  private[graft] def componentsRounds(e: DataFrame, maxIter: Int): DataFrame = {
    val sym = e.select(explode(array(struct("src", "dst"),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select("e.*").distinct()
      .localCheckpoint(eager = false) // joined every round — materialize once
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(eager = false)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min label among neighbours (one narrow shuffle on vertex id)
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("comp").as("nbr_comp"))
      // checkpoint BEFORE the compression self-join: it consumes
      // `propagated` twice, and Spark has no plan-level CSE — unckeckpointed,
      // the neighbour-min join would be planned (and run) on both sides
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .localCheckpoint(eager = true)
      // path compression: comp := comp(comp) — labels only ever decrease,
      // so following the label's own label one hop is always sound and
      // halves the remaining pointer-chain depth
      val next = propagated
        .join(propagated.select(col("id").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .join(labels.withColumnRenamed("comp", "prev"), "id")
        .select(col("id"), coalesce(col("comp2"), col("comp")).as("comp"),
          (coalesce(col("comp2"), col("comp")) =!= col("prev")).as("changed"))
        .localCheckpoint(eager = true)
      converged = next.filter(col("changed")).isEmpty // cached blocks only
      labels = next.select("id", "comp")
      iter += 1
    }
    // exhausting the round budget would silently return labels that are NOT
    // components (transitively-connected vertices still apart) — refuse
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter rounds — " +
        "raise maxIter (compression makes rounds ~log2(diameter))")
    labels
  }

  /** Synchronous label-propagation community labels (Raghavan et al. 2007,
    * the deterministic synchronous variant): `rounds` rounds where every
    * node adopts the PLURALITY label of its neighbors (ties → smallest
    * label), labels initialized to the node id — so the whole trajectory
    * is a pure function of the graph and an oracle can unroll the rounds
    * (the [[pageRankWeighted]] discipline). Edges are treated as given:
    * pass both directions for an undirected graph. Plurality voting
    * splits dense regions that connectivity ([[connectedComponents]])
    * cannot — the community primitive. Returns (node, lbl).
    *
    * Scale shape: per round ONE edge⋈label hash join + ONE (node, label)
    * count with map-side combine + a min(struct) plurality pick — no
    * window in the loop; the node-sized label table is localCheckpoint'd
    * each round to cut lineage. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1, 50], got $rounds")
    val e = edges.select(col(srcCol).as("i"), col(dstCol).as("j"))
      .localCheckpoint(eager = false) // joined once per round
    var labels = e.select(col("i").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      labels = e.join(labels.select(col("node").as("j"), col("lbl")), "j")
        .groupBy(col("i"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("i"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("i").as("node"), col("m.l").as("lbl"))
        .localCheckpoint() // node-sized; cuts the per-round lineage
    }
    labels
  }

  /** Bounded-round synchronous k-core peeling: `rounds` rounds where
    * every node whose degree within the current survivor subgraph falls
    * below `k` is removed; returns every node of the input graph as
    * (node, deg0, removed_round, core_deg) — removed_round 0 marks a
    * node still in after the last round, core_deg its degree inside the
    * final survivor subgraph (0 for casualties, COALESCE 0 for a
    * survivor whose last edges left with final-round casualties).
    * Rounds are FIXED, not run to convergence — the [[labelPropagation]]
    * bounded-unroll contract, which keeps the trajectory a pure function
    * of the graph so an oracle can replay it as chained CTEs. Pass both
    * directions for an undirected graph.
    *
    * Scale shape: per round ONE degree aggregate over the edge set
    * restricted to survivors (two node-keyed semi-joins + groupBy with
    * map-side combine — no windows, no driver frontier); survivor tables
    * are node-sized and localCheckpoint'd to cut lineage. */
  def boundedKcore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && k <= 1000000, s"k must be in [1, 1e6], got $k")
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1, 50], got $rounds")
    val e = edges.select(col(srcCol).as("i"), col(dstCol).as("j"))
      .localCheckpoint(eager = false) // re-joined every peel round
    val d0 = e.groupBy(col("i").as("node")).agg(count(lit(1)).as("d0"))
      .localCheckpoint(eager = false)
    def degWithin(surv: DataFrame): DataFrame =
      e.join(surv.select(col("node").as("i")), Seq("i"))
        .join(surv.select(col("node").as("j")), Seq("j"))
        .groupBy(col("i").as("node")).agg(count(lit(1)).as("d"))
    var surv = d0.filter(col("d0") >= k).select("node")
      .localCheckpoint(eager = false)
    var acc = d0.join(surv.withColumn("m", lit(1)), Seq("node"), "left")
      .select(col("node"), col("d0"),
        when(col("m").isNull, lit(1L)).as("rr"))
    var lastDeg = degWithin(surv)
    for (r <- 2 to rounds) {
      surv = lastDeg.filter(col("d") >= k).select("node")
        .localCheckpoint(eager = false)
      acc = acc.join(surv.withColumn("m", lit(1)), Seq("node"), "left")
        .select(col("node"), col("d0"),
          coalesce(col("rr"),
            when(col("m").isNull, lit(r.toLong))).as("rr"))
      lastDeg = degWithin(surv)
    }
    acc.join(surv.withColumn("m", lit(1)), Seq("node"), "left")
      .join(lastDeg.select(col("node"), col("d").as("dfin")),
        Seq("node"), "left")
      .select(col("node"), col("d0").as("deg0"),
        coalesce(col("rr"), lit(0L)).as("removed_round"),
        when(col("m").isNotNull, coalesce(col("dfin"), lit(0L)))
          .otherwise(lit(0L)).as("core_deg"))
  }

  /** Weighted PageRank over a directed edge list — the graph-centrality
    * step past connected components: which nodes (event types, domains,
    * canonical documents) the corpus's link/transition structure keeps
    * flowing INTO. Fixed `iterations` rounds of
    * `r'(v) = (1−d)·10⁶ + d·Σᵤ r(u)·w(u,v)/W(u)`, with EVERY intermediate
    * held in integer micro-units and every division an integer division —
    * parallel double summation order can never flip a digit, so the rounds
    * are bit-reproducible by an independent engine (the DuckDB oracle
    * unrolls the same rounds; the ≤ 1 micro-unit/term floor bias is part of
    * the operator's defined semantics). Dangling-node mass is dropped
    * (standard simplification; documented, determinism unaffected). Returns
    * (node, rank_micro).
    *
    * Size dispatch (the [[connectedComponents]] discipline, same cap): a
    * transition or co-occurrence graph is vocabulary-sized, and the round
    * loop pays a few Spark jobs per round whatever the size. Up to
    * [[OneTask.MaxRows]] edges all rounds run inside ONE task
    * ([[pageRankOneTask]]) — one job whatever `iterations` is.
    * Above the cap the distributed round loop ([[pageRankRounds]]) is the
    * scale path: per round ONE edge⋈rank hash join on src + ONE dst-keyed
    * sum with map-side combine — hot destination nodes are hot COUNTERS,
    * never hot join keys. The loop also runs when the one-task path could
    * not reproduce it: node columns of another type than string or
    * integral (or of two types), or ANSI mode off. Both paths return
    * identical rows. */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 10,
      dampingMilli: Int = 850): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(dampingMilli >= 0 && dampingMilli <= 1000,
      s"dampingMilli must be in [0, 1000], got $dampingMilli")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
    val nodeType = e.schema("src").dataType
    val eligible = nodeType == e.schema("dst").dataType &&
      OneTask.KeyTypes(nodeType) &&
      e.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    (if (eligible) pageRankOneTask(e, iterations, dampingMilli) else None)
      .getOrElse(pageRankRounds(e, iterations, dampingMilli))
  }

  /** The distributed round loop of [[pageRankWeighted]] — the any-size
    * scale path. `e0` is (src, dst, w: bigint), read three times, so it is
    * materialized once; `localCheckpoint` truncates the growing lineage
    * each round exactly like [[connectedComponents]]. */
  private[graft] def pageRankRounds(e0: DataFrame, iterations: Int,
      dampingMilli: Int): DataFrame = {
    val e = e0.localCheckpoint()
    val outW = e.groupBy("src").agg(sum("w").as("ow"))
    val ew = e.join(outW, "src").localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = false)
    val base = 1000000L - dampingMilli * 1000L
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iterations) {
      // decimal(38,0) products before the integral divide: rank mass on an
      // N-node graph reaches N·10⁶, so r·w in plain long arithmetic wraps
      // at hub nodes of a 10⁹-node graph (ANSI off = silent garbage);
      // `div` on decimals is Spark's exact IntegralDivide → BIGINT
      val contribs = ew.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("(CAST(r AS DECIMAL(20,0)) * w) div ow").as("c"))
        .groupBy("node").agg(sum("c").as("sc"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr(
            s"($dampingMilli * CAST(coalesce(sc, 0) AS DECIMAL(20,0))) div 1000"))
            .as("r"))
        .localCheckpoint(eager = false)
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** All rounds of [[pageRankRounds]] inside one task, over `e` (src, dst,
    * w: bigint) coalesced to one partition: the same rows, computed with
    * the loop's exact integer semantics —
    *  - `ow` is the sum of the non-null `w` of each src (its null-dst edges
    *    included);
    *  - an edge contributes `(r·w) div ow` (the 128-bit product is exact,
    *    the quotient truncates toward zero and keeps its low 64 bits, as the
    *    loop's decimal `div` does) unless its src, dst or `w` is null — a
    *    null-dst edge is not evaluated at all, as the optimizer's inferred
    *    `isnotnull(dst)` filter skips it in the loop;
    *  - `rank = base + (dampingMilli·Σc) div 1000`; a null node, or one with
    *    no in-edges, gets `base`;
    *  - as under ANSI, a zero `ow` or a long overflow in a sum throws.
    * Duplicate edges each count. None above the cap ([[OneTask.run]]). */
  private[graft] def pageRankOneTask(e: DataFrame, iterations: Int,
      dampingMilli: Int): Option[DataFrame] = {
    val base = 1000000L - dampingMilli * 1000L
    val schema = new StructType()
      .add("node", e.schema("src").dataType)
      .add("rank_micro", LongType)
    OneTask.run(e, schema) { rows =>
      val index = mutable.HashMap.empty[Any, Int] // non-null node → slot
      var nullNode = false
      def slot(v: Any): Int =
        if (v == null) { nullNode = true; -1 }
        else index.getOrElseUpdate(v, index.size)
      // edges with a non-null src and w; dst is -1 when null
      val (src, dst, w) = (mutable.ArrayBuilder.make[Int],
        mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Long])
      rows.foreach { r =>
        val (s, d) = (slot(r.get(0)), slot(r.get(1)))
        if (s >= 0 && !r.isNullAt(2)) { src += s; dst += d; w += r.getLong(2) }
      }
      val (es, ed, ew) = (src.result(), dst.result(), w.result())
      val n = index.size
      val ow = new Array[Long](n)
      for (k <- es.indices) ow(es(k)) = Math.addExact(ow(es(k)), ew(k))
      var rank = Array.fill(n)(1000000L)
      for (_ <- 1 to iterations) {
        val sc = new Array[Long](n)
        var k = 0
        while (k < es.length) {
          val s = es(k); val d = ed(k)
          if (d >= 0) sc(d) = Math.addExact(sc(d), mulDiv(rank(s), ew(k), ow(s)))
          k += 1
        }
        rank = sc.map(x => Math.addExact(base, mulDiv(dampingMilli, x, 1000)))
      }
      val out = index.iterator.map { case (v, i) => Row(v, rank(i)) }
      if (nullNode) out ++ Iterator(Row(null, base)) else out
    }
  }

  /** `(a·b) div c` with an exact 128-bit product, truncated toward zero,
    * keeping the quotient's low 64 bits (Spark's decimal `div` → bigint);
    * a zero `c` throws, as ANSI division by zero does. */
  private def mulDiv(a: Long, b: Long, c: Long): Long = {
    if (c == 0) throw new ArithmeticException(
      "[DIVIDE_BY_ZERO] PageRank out-weight of a source node sums to 0")
    val lo = a * b
    if (Math.multiplyHigh(a, b) == (lo >> 63)) lo / c // a·b fits a long
    else BigInteger.valueOf(a).multiply(BigInteger.valueOf(b))
      .divide(BigInteger.valueOf(c)).longValue
  }

  /** The unrolled-iteration CTE chain for [[pageRankWeighted]]'s DuckDB
    * oracle: callers provide the graph as CTEs named `e(src, dst, w)` and
    * get back `ow/ew/nodes/r0/r1..rN` continuing the chain — generated
    * from the same constants as the engine loop, so oracle and engine
    * agree on rounds, damping and integer semantics by construction. */
  def pagerankOracleCtes(iterations: Int, dampingMilli: Int = 850): String = {
    val base = 1000000L - dampingMilli * 1000L
    val head =
      """ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY 1),
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
         |    CAST($base + ($dampingMilli * coalesce(s.sc, 0)) // 1000
         |      AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ew.dst AS node,
         |      sum((CAST(r.r AS HUGEINT) * ew.w) // ew.ow) AS sc
         |    FROM ew JOIN r${i - 1} r ON r.node = ew.src GROUP BY 1) s
         |  USING (node))""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  /** Per-node triangle census over an undirected edge list: degree,
    * triangle count, and local clustering coefficient (permille). The one
    * triangle count of the engine: q_dup_graph runs it over the near-dup
    * pair graph, q_triangles and q_clustering_coef over the co-purchase
    * graph. Over near-dup pairs it is a graph-quality report: high
    * clustering says the dedup edges form coherent duplicate GROUPS
    * (templates, mass boilerplate); low clustering with high degree flags
    * hub documents whose pairings are artifacts (a hot shingle, a
    * degenerate signature) rather than a real duplicate family. Edges may
    * come in either orientation and repeated; self-loops are dropped.
    *
    * Scale shape: the classic degree-ordered orientation (each edge
    * points from its lower (degree, id) endpoint), which bounds every
    * out-neighbourhood by O(√m) — the wedge self-join is Σ out-deg²,
    * polynomial-safe even on power-law graphs where a naive
    * wedge-at-the-hub join explodes quadratically in the hub degree. The
    * wedge→edge close is one equi-join on the canonical pair key. Every
    * triangle is found exactly once (its minimum-(degree, id) apex). */
  def triangleStats(edges0: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = edges0
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") < col("y")).distinct()
      .localCheckpoint(eager = false)
    val deg = edges.select(col("x").as("v"))
      .unionAll(edges.select(col("y").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
      .localCheckpoint(eager = false)
    val lower = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    val dir = edges
      .join(deg.select(col("v").as("x"), col("degree").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("degree").as("dy")), "y")
      .select(when(lower, col("x")).otherwise(col("y")).as("src"),
        when(lower, col("y")).otherwise(col("x")).as("dst"))
      .localCheckpoint(eager = false)
    val tris = dir.select(col("src"), col("dst").as("d1"))
      .join(dir.select(col("src"), col("dst").as("d2")), "src")
      .filter(col("d1") < col("d2"))
      .join(edges,
        least(col("d1"), col("d2")) === col("x") &&
          greatest(col("d1"), col("d2")) === col("y"))
      .select(explode(array(col("src"), col("d1"), col("d2"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(tris, Seq("v"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("clustering_permille",
        when(col("degree") < 2, lit(0L))
          .otherwise(expr("(2000 * n_tri) DIV (degree * (degree - 1))")))
  }
}
