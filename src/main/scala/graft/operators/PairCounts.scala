package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pairs of ids that share keys, with `i`, their number of (a-element,
  * b-element) key matches, and each id's key count `ca` and `cb`, through
  * a [[PairTail]]. The input is `(doc, gs)` rows: an id and an array of
  * non-null 64-bit keys. The exact shingle-overlap family passes documents
  * and their hashed shingles ([[Dedup.shingleKeys]]); the co-purchase
  * queries and [[Basket.frequentPairs]] pass parts and their orders, one
  * row per distinct (order, part) ([[oneKeyPerRow]]), so `c` is a part's
  * order count and `i` the orders two parts share. Semantics (both paths,
  * compared by seeded property specs) are [[pairCountsJoin]]'s, detailed
  * at [[pairCountsOneTask]]. There is no prune on an id's own count: with
  * repeated (id, key) rows `i` can exceed `c`, so "skip ids with c < s"
  * would lose pairs of support s; a caller with distinct rows may prune
  * first, as [[Basket.frequentPairs]] does.
  */
private[graft] object PairCounts {

  /** A tail over `(a_id, b_id, i, ca, cb)` pair counts: the pairs whose
    * `name` value is at least `threshold`, as `(a_id, b_id, name)`. The
    * value is written twice, side by side: [[column]], the SQL the tail
    * applies, and [[value]], the same IEEE operations on longs, which the
    * one-task kernel evaluates per counted pair without boxing. */
  sealed abstract class PairTail(val name: String) extends Serializable {
    def threshold: Double
    def value(i: Long, ca: Long, cb: Long): Double
    def column(i: Column, ca: Column, cb: Column): Column

    /** Whether the one-task kernel emits a pair: iff `i > max(ca, cb)` or
      * the tail keeps it. When `i ≤ max(ca, cb)` every denominator is at
      * least `min(ca, cb) ≥ 1`, so [[value]] is the double [[column]]
      * computes, never NaN, and `>=` on it agrees with SQL's (a NaN
      * threshold is false in both). Otherwise a denominator can be zero or
      * negative: the pair is emitted and the SQL tail decides, ANSI throw
      * included. */
    final def emits(i: Long, ca: Long, cb: Long): Boolean =
      i > math.max(ca, cb) || value(i, ca, cb) >= threshold

    /** The columns a kept pair is returned as. */
    protected def out: Seq[String] = Seq("a_id", "b_id", name)

    def apply(pairs: DataFrame): DataFrame =
      pairs.withColumn(name, column(col("i"), col("ca"), col("cb")))
        .filter(col(name) >= threshold)
        .select(out.map(col): _*)
  }

  /** The counts themselves, `(a_id, b_id, i, ca, cb)`. */
  private val Counts = Seq("a_id", "b_id", "i", "ca", "cb")

  object PairTail {
    /** `i / (ca + cb − i)`: intersection over union. With `counts`, a kept
      * pair is returned as its counts `(a_id, b_id, i, ca, cb)`, for a
      * caller that computes its own form of the ratio (q_ppjoin's integer
      * `jacc_ppm`). */
    final case class Jaccard(threshold: Double, counts: Boolean = false)
        extends PairTail("jaccard") {
      def value(i: Long, ca: Long, cb: Long): Double =
        i.toDouble / (ca + cb - i)
      def column(i: Column, ca: Column, cb: Column): Column =
        i.cast("double") / (ca + cb - i)
      override protected def out: Seq[String] =
        if (counts) Counts else super.out
    }

    /** `i / min(ca, cb)`: intersection over the smaller set. */
    final case class Containment(threshold: Double)
        extends PairTail("containment") {
      def value(i: Long, ca: Long, cb: Long): Double =
        i.toDouble / math.min(ca, cb)
      def column(i: Column, ca: Column, cb: Column): Column =
        i.cast("double") / least(ca, cb)
    }

    /** `i ≥ support`: the pairs that share at least `support` keys (on
      * distinct (id, key) rows, keys in common), returned as their counts
      * `(a_id, b_id, i, ca, cb)`. */
    final case class Support(support: Long) extends PairTail("support") {
      def threshold: Double = support.toDouble
      def value(i: Long, ca: Long, cb: Long): Double = i.toDouble
      def column(i: Column, ca: Column, cb: Column): Column = i
      override protected def out: Seq[String] = Counts
    }
  }

  /** The `(a_id, b_id, i, ca, cb)` pair counts of `keys` through `tail`.
    * Up to [[OneTask.MaxRows]] (id, key) elements they come from ONE task
    * ([[pairCountsOneTask]]). Above it `keys` is materialized once; then
    * an unguarded Jaccard tail with threshold > 0 takes the prefix join
    * ([[pairCountsPrefix]]), since nothing else bounds its Σ df² work, and
    * every other call takes the self-join ([[pairCountsJoin]]). The guard
    * drops keys whose df is above `maxKeyDf` or the [[fractionCap]] from
    * the pairs and the counts. */
  def apply(keys: DataFrame, tail: PairTail, maxKeyDf: Long = Long.MaxValue,
      maxKeyDfFraction: Option[Double] = None): DataFrame = {
    val oneTask = if (!OneTask.KeyTypes(keys.schema("doc").dataType)) None
      else pairCountsOneTask(keys, maxKeyDf, maxKeyDfFraction, tail)
    val unguarded = maxKeyDf == Long.MaxValue && maxKeyDfFraction.isEmpty
    tail(oneTask.getOrElse {
      val k = keys.localCheckpoint()
      tail match {
        case PairTail.Jaccard(t, _) if unguarded && t > 0 =>
          pairCountsPrefix(k, t)
        case _ => pairCountsJoin(k, maxKeyDf, maxKeyDfFraction)
      }
    })
  }

  /** [[apply]]'s input from `rows` holding one (id, key) pair each: `doc`
    * is `idCol`, `gs` the one-element array of `keyCol` as a bigint. The
    * key must be integral, so the cast is lossless; a non-integral key
    * hashed into a bigint could collide and change the counts. A null key
    * shares nothing, and its row is dropped. */
  def oneKeyPerRow(rows: DataFrame, idCol: String,
      keyCol: String): DataFrame = {
    val keyType = rows.schema(keyCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(keyType),
      s"key column $keyCol must be integral, got $keyType")
    rows.filter(col(keyCol).isNotNull)
      .select(col(idCol).as("doc"), array(col(keyCol).cast("long")).as("gs"))
  }

  /** `pairs` in both orientations: each `(a_id, b_id, i, ca, cb)` row, and
    * the same pair as `(b_id, a_id, i, cb, ca)`, from one read of `pairs`.
    * The directed edge list of an undirected pair graph. */
  def bothWays(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(Counts.map(col): _*),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"), col("i"),
          col("cb").as("ca"), col("ca").as("cb")))).as("p"))
      .select("p.*")

  /** The fraction guard's df cap on `rows` input rows: max(5,
    * ⌈fraction × rows⌉) capped at 10 000. The Column form runs in
    * [[pairCountsJoin]]'s plan; [[fractionCapOf]] is the same arithmetic
    * for [[pairCountsOneTask]]'s in-task count. */
  private def fractionCap(rows: Column, frac: Double): Column =
    least(greatest(lit(5L), ceil(rows * frac).cast("long")), lit(10000L))

  private def fractionCapOf(rows: Long, frac: Double): Long =
    math.min(math.max(5L, math.ceil(rows * frac).toLong), 10000L)

  /** The distributed pair counting — the any-size path of guarded calls,
    * Containment, Support and thresholds ≤ 0: df guard, singleton prune,
    * exchange-reusing self-join. */
  def pairCountsJoin(keys: DataFrame, maxKeyDf: Long,
      maxKeyDfFraction: Option[Double]): DataFrame = {
    val sh0 = keys.select(col("doc"), explode(col("gs")).as("g"))
    // the guard broadcasts the DROPPED heavy-hitter set and anti-joins: at
    // most totalKeys/cap keys can exceed the cap, so that set is provably
    // tiny, while the kept set is the whole key vocabulary — broadcasting
    // the complement would invert the size relationship the broadcast
    // depends on
    def guarded(hotOf: DataFrame => DataFrame): DataFrame = {
      val hot = hotOf(sh0.groupBy("g").agg(count(lit(1)).as("df")))
        .select("g")
      sh0.join(broadcast(hot), Seq("g"), "left_anti")
    }
    val filtered0 = maxKeyDfFraction match {
      case Some(frac) =>
        val total = keys.agg(count(lit(1)).as("_n"))
        guarded(_.crossJoin(broadcast(total))
          .filter(col("df") > fractionCap(col("_n"), frac)))
      case None if maxKeyDf == Long.MaxValue => sh0
      case None => guarded(_.filter(col("df") > maxKeyDf))
    }
    // The (doc, key) table feeds four consumers (doc frequencies, per-doc
    // counts, both sides of the pair join); Spark has no plan-level CSE,
    // so materialize it once. Lazily only without a guard: a guard's
    // aggregate and join are exchanges, whose map stages AQE runs at this
    // call (PlanSpec pins both cases).
    val filtered = filtered0.localCheckpoint(eager = false)
    val counts = filtered.groupBy("doc").agg(count(lit(1)).as("c"))
    // A key of exactly ONE document can never produce a pair, so prune
    // df==1 keys from the self-join input. On a real web corpus the
    // singleton tail is the BULK of the shingle vocabulary (Zipf), so this
    // is a large cut in join traffic; it costs no extra exchange — the
    // df-annotating window shuffles on g, exactly the partitioning (and
    // sort) the sort-merge self-join needs, so the exchange is reused.
    // Denominator counts above are computed BEFORE the prune: Jaccard
    // values are bit-identical with or without it.
    val paired = filtered
      .withColumn("kdf", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("kdf") >= 2)
      .select("doc", "g")
    val inter = paired.select(col("doc").as("a_id"), col("g"))
      .join(paired.select(col("doc").as("b_id"), col("g")), "g")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    withCounts(inter, counts)
  }

  /** `(a_id, b_id, i)` pairs with each document's count `c` (its
    * (doc, key) rows) as `ca` and `cb`. */
  private def withCounts(inter: DataFrame, counts: DataFrame): DataFrame =
    inter
      .join(counts.select(col("doc").as("a_id"), col("c").as("ca")), "a_id")
      .join(counts.select(col("doc").as("b_id"), col("c").as("cb")), "b_id")

  /** [[pairCountsJoin]]'s rows (unguarded) for a superset of the pairs a
    * Jaccard tail with threshold `t > 0` keeps or throws on, from the
    * PPJoin/AllPairs prefix join (Bayardo et al. 2007; Xiao et al. 2008) —
    * the above-cap path whose work the filters bound where the self-join's
    * is Σ df². Over the input rows as (doc, key, multiplicity k); a null
    * id never pairs and is dropped. Keys are ordered by (df, key), rare
    * first, with no global rank: each set's positions come from a
    * doc-bounded window.
    *  - A document whose keys all have k = 1 is a set of `m = c` keys. A
    *    pair of such sets with Jaccard ≥ t overlaps in at least ⌈t·m⌉ keys
    *    of each, so the smallest shared key lies in both sets' first
    *    m − ⌈t·m⌉ + 1 keys (the PREFIX, pigeonhole): candidates come from
    *    an equi-join on prefix keys of df ≥ 2. Two prunes ride the same
    *    join. LENGTH (AllPairs): ⌈t·max(ma, mb)⌉ ≤ min(ma, mb), both ways.
    *    POSITIONAL (PPJoin): a pair whose shared key sits at positions
    *    (ra, rb) overlaps in at most min(ma − ra, mb − rb) + 1 keys from
    *    there on, and needs ⌈t/(1+t)·(ma + mb)⌉; the smallest shared key
    *    passes it for every pair the tail keeps.
    *  - The bounds are doubles at `lo`, t lowered by a relative 10⁻¹²:
    *    the tail keeps fl(i/u) ≥ t, so i/u ≥ t·(1 − 2⁻⁵³), and each bound's
    *    own rounding is a few ulps, so no computed bound exceeds the exact
    *    one. Rounding can only admit a candidate; the tail decides exactly.
    *  - A document with a key of k > 1 (several rows sharing a key, or a
    *    key repeated in one row) has counts the pigeonhole bound does not
    *    cover: `i` can exceed min(ca, cb) and the denominator can be zero.
    *    It pairs through all of its keys with all of every document's, so
    *    each such pair reaches the verify and the tail, ANSI throw
    *    included.
    * Verify: `i` counts the candidate's (a-row, b-row) key matches, Σ ka·kb
    * over shared keys, exactly the self-join's count.
    *
    * MEASURED AND REJECTED (round 11, in q_ppjoin at t = 0.8): the PPJoin+
    * one-level SUFFIX filter (Xiao et al. 2008 §4 — bound the suffix
    * overlap by a median-pivot partition of both sorted suffixes). On this
    * shared-vocabulary corpus it kills only 26% of the candidates the
    * length+positional filters admit (667,400 → 492,861 at sf0.1, verified
    * lossless — oracle still green), far below the paper's corpora, while
    * the bound arithmetic costs more than the verify join it starves:
    * Spark's higher-order array functions are interpreted per element
    * (465 s for the filter stage alone at sf0.1 on int-rank arrays, vs
    * ~6 s for the whole exploded-join verify), and a custom codegen kernel
    * would at best convert a 26% cut of a ~6 s stage — under the
    * measurement noise floor. Same conclusion class as the round-10
    * rejection of per-pair array_intersect verify: at this
    * candidate/doc-size ratio the exploded equi-join + count aggregate is
    * the fastest exact verify. */
  def pairCountsPrefix(keys: DataFrame, t: Double): DataFrame = {
    val dk = keys.filter(col("doc").isNotNull)
      .select(col("doc"), explode(col("gs")).as("g"))
      .groupBy("doc", "g").agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = false) // ranks, both joins and the verify
    val docs = dk.groupBy("doc").agg(sum("k").as("c"), count(lit(1)).as("m"))
    val lo = math.min(t, 1.0) * (1 - 1e-12)
    def overlap(m: Column): Column = ceil(m * lo)
    val ranked = dk.join(dk.groupBy("g").agg(count(lit(1)).as("df")), "g")
      .join(docs, "doc")
    val prefix = ranked.filter(col("c") === col("m"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc").orderBy("df", "g")))
      .filter(col("rn") <= col("m") - overlap(col("m")) + 1 &&
        col("df") >= 2)
      .select("doc", "g", "m", "rn")
    val (a, b) = (prefix.as("a"), prefix.as("b"))
    val sets = a.join(b, col("a.g") === col("b.g") &&
        col("a.doc") < col("b.doc") &&
        overlap(col("a.m")) <= col("b.m") &&
        overlap(col("b.m")) <= col("a.m") &&
        least(col("a.m") - col("a.rn"), col("b.m") - col("b.rn")) + 1 >=
          ceil((col("a.m") + col("b.m")) * (lo / (1 + lo))))
      .select(col("a.doc").as("a_id"), col("b.doc").as("b_id"))
    val multi = ranked.filter(col("c") > col("m"))
      .select(col("doc").as("x"), col("g"))
      .join(dk.select(col("doc").as("y"), col("g")), "g")
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"))
    val inter = sets.union(multi).distinct()
      .join(dk.select(col("doc").as("a_id"), col("g"), col("k").as("ka")),
        "a_id")
      .join(dk.select(col("doc").as("b_id"), col("g"), col("k").as("kb")),
        Seq("b_id", "g"))
      .groupBy("a_id", "b_id").agg(sum(col("ka") * col("kb")).as("i"))
    withCounts(inter, docs)
  }

  /** [[pairCountsJoin]]'s rows computed inside ONE task (doc of a
    * [[OneTask.KeyTypes]] type), keeping only the rows `tail` keeps or
    * decides on. Linear in the (doc, key) elements, plus ScanCount's
    * Σ df² walk:
    *  - one ingest pass counts the rows `N` and numbers each 64-bit key on
    *    first sight with one probe of a primitive table ([[OneTask.KeyIndex]]),
    *    which also counts its df; the guard then drops keys above its cap;
    *  - ScanCount per document (the inverted-list merge of approximate
    *    string search, Li, Lu & Lu, ICDE 2008): for each document `a`,
    *    walk the postings of its kept keys and count every later document
    *    `b` in a dense counter.
    * The self-join's relational semantics carry over exactly:
    *  - every array element counts, so a key repeated inside one row (a
    *    hash collision) counts twice, and a duplicate id counts with its
    *    multiplicity (its `c` sums over all of its rows);
    *  - a null id counts toward `N` and df only, never toward a pair;
    *  - `a_id < b_id` in SQL order (numeric, or UTF-8 byte order for
    *    strings).
    * Emission: a counted pair leaves the task iff [[PairTail.emits]], i.e.
    * `i > max(ca, cb)` or the tail keeps it (q_ngram_jaccard at sf0.1:
    * 590 of its 1.13M co-shingled pairs). The tail then runs on the
    * emitted rows as on the join's, so ANSI throws and NaN handling stay in
    * SQL: the zero-denominator pairs duplicate ids make have
    * `i > max(ca, cb)` and reach it. None above the cap ([[OneTask.run]];
    * a row weighs its elements, a keyless row one, so N is bounded too). */
  def pairCountsOneTask(keys: DataFrame, maxKeyDf: Long,
      maxKeyDfFraction: Option[Double], tail: PairTail): Option[DataFrame] = {
    val idType = keys.schema("doc").dataType
    val schema = new StructType()
      .add("a_id", idType).add("b_id", idType)
      .add("i", LongType).add("ca", LongType).add("cb", LongType)
    def elements(r: Row): Int =
      if (r.isNullAt(1)) 1 else math.max(1, r.getSeq[Long](1).size)
    OneTask.run(keys, schema, elements) { rows =>
      // one (doc slot, key index) element per array entry; slot -1 = null id
      val slot = mutable.HashMap.empty[Any, Int]
      val ids = mutable.ArrayBuffer.empty[Any]
      val (elemDoc, elemKey) =
        (new mutable.ArrayBuilder.ofInt, new mutable.ArrayBuilder.ofInt)
      val keyIndex = new OneTask.KeyIndex
      var nRows = 0L
      rows.foreach { r =>
        nRows += 1
        val gs = if (r.isNullAt(1)) Nil else r.getSeq[Long](1)
        if (gs.nonEmpty) {
          val d = if (r.isNullAt(0)) -1 else {
            val id = r.get(0)
            slot.getOrElseUpdate(id, { ids += id; ids.size - 1 })
          }
          gs.foreach { g =>
            elemDoc.addOne(d); elemKey.addOne(keyIndex.add(g)) // unboxed
          }
        }
      }
      val (ed, ek) = (elemDoc.result(), elemKey.result())
      val (nk, kdf) = (keyIndex.size, keyIndex.counts)
      val cap = maxKeyDfFraction.fold(maxKeyDf)(fractionCapOf(nRows, _))
      def kept(e: Int): Boolean = ed(e) >= 0 && kdf(ek(e)) <= cap
      // dense doc index = rank in SQL id order, so `b > a` is `b_id > a_id`
      val byRank = sortedSlots(ids, idType)
      val nDocs = byRank.length
      val rank = new Array[Int](nDocs)
      for (r <- 0 until nDocs) rank(byRank(r)) = r
      // each doc's kept keys (in element order) and each key's postings,
      // each as one flat array plus start offsets (CSR)
      val c = new Array[Long](nDocs)
      val postStart = new Array[Int](nk + 1)
      var e = 0
      while (e < ed.length) {
        if (kept(e)) { c(rank(ed(e))) += 1; postStart(ek(e) + 1) += 1 }
        e += 1
      }
      val docStart = new Array[Int](nDocs + 1)
      for (d <- 0 until nDocs) docStart(d + 1) = docStart(d) + c(d).toInt
      for (k <- 0 until nk) postStart(k + 1) += postStart(k)
      val docKeys = new Array[Int](docStart(nDocs))
      val docFill = docStart.clone()
      e = 0
      while (e < ed.length) {
        if (kept(e)) {
          val d = rank(ed(e))
          docKeys(docFill(d)) = ek(e); docFill(d) += 1
        }
        e += 1
      }
      // filled in doc order, so each key's postings ascend
      val post = new Array[Int](docKeys.length)
      val postFill = postStart.clone()
      var d = 0
      while (d < nDocs) {
        var p = docStart(d)
        while (p < docStart(d + 1)) {
          val k = docKeys(p)
          post(postFill(k)) = d; postFill(k) += 1
          p += 1
        }
        d += 1
      }
      // ScanCount, docs in rank order: `cur(k)` is key k's next unvisited
      // posting entry — always one of the current doc's own entries, so
      // every entry after it is the same doc (skipped) or a later one
      val cur = postStart.clone()
      val cnt = new Array[Long](nDocs)
      val touched = new Array[Int](nDocs)
      // (while loops here and above: a `for` over a Range calls a closure
      // per step, and this walk is the kernel's Σ df² part)
      Iterator.range(0, nDocs).flatMap { a =>
        var nt = 0
        var p = docStart(a)
        while (p < docStart(a + 1)) {
          val k = docKeys(p)
          cur(k) += 1
          var q = cur(k)
          while (q < postStart(k + 1)) {
            val b = post(q)
            if (b != a) {
              if (cnt(b) == 0) { touched(nt) = b; nt += 1 }
              cnt(b) += 1
            }
            q += 1
          }
          p += 1
        }
        val out = mutable.ArrayBuffer.empty[Row]
        var t = 0
        while (t < nt) {
          val b = touched(t)
          val i = cnt(b)
          cnt(b) = 0
          if (tail.emits(i, c(a), c(b)))
            out += Row(ids(byRank(a)), ids(byRank(b)), i, c(a), c(b))
          t += 1
        }
        out
      }
    }
  }

  /** The slots of `ids` sorted by SQL order of their values: numeric for
    * integral types, UTF-8 byte order (Spark's binary collation) for
    * strings. */
  private def sortedSlots(ids: mutable.ArrayBuffer[Any],
      idType: DataType): Array[Int] = {
    val slots = ids.indices.toArray
    idType match {
      case StringType =>
        val u = ids.map(v => UTF8String.fromString(v.asInstanceOf[String]))
        slots.sortWith((x, y) => u(x).binaryCompare(u(y)) < 0)
      case _ =>
        slots.sortBy(s => ids(s).asInstanceOf[Number].longValue)
    }
  }
}
