package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** B-3 joins — every flavor (SURVEY.md §2).
  *
  * Scale notes (100 TB):
  * - Fact⋈fact equi-joins (orders⋈customer, Q5 chain) shuffle on the join
  *   key; AQE picks sort-merge vs shuffled-hash and handles skew splits.
  * - Dimension joins (`nation`, `region`, the bands relation) are explicitly
  *   `broadcast()` so the fact side never shuffles for them.
  * - The as-of join is the union+window formulation: ONE shuffle on the key
  *   (vs. the naive range-join + per-event top-1 which explodes candidates),
  *   then a single partition-local sort — the canonical scalable as-of.
  * - Semi/anti joins stay semi/anti at the physical level (no materialized
  *   inner result).
  */
object Joins extends QueryFamily {

  /** q_join_inner — hash equi-join orders⋈customer, top rows by price. */
  def qJoinInner(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(20)

  /** q_join_broadcast — small dims broadcast onto customer. */
  def qJoinBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("r_name", "n_name")

  /** q_join_left — null-extending outer join: every nation, customer count. */
  def qJoinLeft(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(Tables.customer(s, dir),
        col("n_nationkey") === col("c_nationkey"), "left")
      .groupBy("n_nationkey", "n_name")
      .agg(count(col("c_custkey")).as("n_cust"))
      .orderBy("n_nationkey")

  /** q_join_full — full outer of per-nation customer vs supplier counts. */
  def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_cust"))
    val sp = Tables.supplier(s, dir).groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_supp"))
    c.join(sp, col("c_nationkey") === col("s_nationkey"), "full")
      .select("c_nationkey", "s_nationkey", "n_cust", "n_supp")
      .orderBy(asc_nulls_first("c_nationkey"), asc_nulls_first("s_nationkey"))
  }

  /** q_join_semi — customers having orders (existence join).
    * Root: A15 existence gate, /root/reference/syscol/scheduler.go:183-193. */
  def qJoinSemi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** q_join_anti — customers with no orders. */
  def qJoinAnti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** q_join_range — theta/band join: parts into size bands derived from
    * region keys (band r covers p_size in [10r+1, 10r+10]). Broadcast BNLJ. */
  def qJoinRange(s: SparkSession, dir: String): DataFrame = {
    val bands = broadcast(Tables.region(s, dir)
      .select(col("r_regionkey").as("band")))
    Tables.part(s, dir)
      .join(bands, col("p_size").between(col("band") * 10 + 1,
        col("band") * 10 + 10))
      .groupBy("band")
      .agg(count(lit(1)).as("n_parts"),
        min("p_size").as("min_size"), max("p_size").as("max_size"),
        dsum(col("p_retailprice")).as("sum_price"))
      .orderBy("band")
  }

  /** q_join_asof — each event matched to the user's latest order at-or-before
    * its timestamp. Union+window formulation: tag both sides, single shuffle
    * on user_id, one partition-local sort by (t, side, key), carry the last
    * seen order forward with last(_, ignoreNulls) — O(n log n), no candidate
    * explosion, survives 100× scale-up. */
  def qJoinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("ts").as("t"), lit(1).as("side"),
      col("event_id"), lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("double").as("o_totalprice"))
    val ord = Tables.orders(s, dir).select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
      lit(0).as("side"), lit(null).cast("long").as("event_id"),
      col("o_orderkey"), col("o_totalprice"))
    // side=0 (orders) sorts before side=1 (events) at equal t ⇒ `<=` as-of;
    // o_orderkey tiebreaks equal-timestamp orders deterministically.
    val w = Window.partitionBy("user_id")
      .orderBy(col("t"), col("side"), coalesce(col("o_orderkey"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = last(
      when(col("side") === 0, struct(col("o_orderkey"), col("o_totalprice"))),
      ignoreNulls = true).over(w)
    ev.unionByName(ord)
      .withColumn("m", matched)
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts"),
        col("m.o_orderkey").as("o_orderkey"),
        col("m.o_totalprice").as("o_totalprice"))
      .orderBy("event_id")
  }

  /** q_subquery_avg — customers above their nation's average balance: the
    * correlated-scalar-subquery shape, expressed as a window aggregate
    * (Catalyst's own decorrelation produces the same single-shuffle
    * partition-aggregate plan). Threshold computed in exact decimal so the
    * comparison is order-independent in both engines. */
  def qSubqueryAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
    val natAvg = (sum(col("c_acctbal").cast("decimal(18,2)")).over(w) /
      count(lit(1)).over(w)).cast("double")
    Tables.customer(s, dir)
      .withColumn("nation_avg", natAvg)
      .filter(col("c_acctbal") > col("nation_avg"))
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** q_join_multiway — 5-way star join, TPC-H Q5 shape (ASIA, 1996). */
  def qJoinMultiway(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(18,2)")))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("n_name"))

  /** q_join_bucketed — the at-rest co-located join: both sides persisted
    * bucketed+sorted on the join key (`Layout.writeBucketed`), then
    * fact⋈fact join + same-key aggregate with ZERO Exchange — the layout
    * that turns the nightly 100 TB orders⋈lineitem from a full-cluster
    * shuffle into a bucket-local sort-merge. The no-shuffle claim is a
    * RUNTIME require on the executed plan (broadcast disabled for the
    * probe so the plan shows the at-scale shape), not just a spec pin;
    * the result itself is the oracle-checked join semantics. Bucketed
    * tables are scratch-named, materialized via localCheckpoint, and
    * dropped before returning (the q_scan_roundtrip discipline). */
  def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val (ot, lt) = (s"b_orders_$sfx", s"b_lineitem_$sfx")
    Layout.writeBucketed(
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderstatus"),
      ot, "o_orderkey", 8)
    Layout.writeBucketed(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      lt, "o_orderkey", 8)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = s.table(ot).join(s.table(lt), "o_orderkey")
        .groupBy("o_orderkey", "o_custkey", "o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_qty"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed join+agg must not shuffle:\n$plan")
      joined.localCheckpoint(eager = true) // consume tables before drop
        .orderBy("o_orderkey")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $lt")
    }
  }

  /** q_basket_pairs — market-basket association rules over order baskets:
    * part pairs co-purchased in ≥ 2 orders with support, confidence and
    * lift. Apriori-pruned BEFORE pairing, pairs from the shared pair-count
    * operator (see [[graft.operators.Basket]]); integral-milli scores ⇒
    * full-oracle. */
  def qBasketPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Basket.frequentPairs(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minPairSup = 2L)
      .orderBy("a", "b")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_basket_pairs" -> (qBasketPairs _),
    "q_join_bucketed" -> (qJoinBucketed _),
    "q_join_inner" -> (qJoinInner _),
    "q_join_broadcast" -> (qJoinBroadcast _),
    "q_join_left" -> (qJoinLeft _),
    "q_join_full" -> (qJoinFull _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_range" -> (qJoinRange _),
    "q_join_asof" -> (qJoinAsof _),
    "q_subquery_avg" -> (qSubqueryAvg _),
    "q_join_multiway" -> (qJoinMultiway _),
    "q_join_interval" -> (qJoinInterval _))

  /** q_join_interval — interval-overlap self-join: each event carries the
    * interval [ts, ts + value-minutes); per user, every overlapping pair
    * is found and the total/max overlap reported. The plan is an EQUI-join
    * on user_id with the overlap range predicates as post-join filters —
    * Spark plans sort-merge on the key, so candidate pairs are bounded by
    * per-user activity (never a corpus cross-product); the classic
    * interval-join decomposition when intervals live inside a natural
    * partition key. Durations derive from exact cents (cents × 0.6 s), so
    * every bound and overlap is integer microseconds — no float endpoint
    * can flip an overlap decision cross-engine. */
  def qJoinInterval(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(s, dir).select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          round(col("value") * 100).cast("long") * 600000L).as("en"))
      .localCheckpoint(eager = false) // self-join: both sides
    iv.as("a").join(iv.as("b"),
        col("a.user_id") === col("b.user_id") &&
        col("a.event_id") < col("b.event_id") &&
        col("a.st") < col("b.en") && col("b.st") < col("a.en"))
      .select(col("a.user_id").as("user_id"),
        (least(col("a.en"), col("b.en")) -
          greatest(col("a.st"), col("b.st"))).as("ov_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ov_us").cast("decimal(38,0)")).cast("long").as("sum_us"),
        max("ov_us").as("max_overlap_us"))
      .select(col("user_id"), col("n_pairs"),
        expr("sum_us div 1000000").as("overlap_s"), col("max_overlap_us"))
      .orderBy("user_id")
  }

  override val oracle: Map[String, String] = Map(
    "q_join_interval" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS st,
        |    epoch_us(CAST(ts AS TIMESTAMP)) +
        |      CAST(round(value*100) AS BIGINT) * 600000 AS en
        |  FROM events),
        |p AS (
        |  SELECT a.user_id, least(a.en, b.en) - greatest(a.st, b.st) AS ov_us
        |  FROM iv a JOIN iv b ON a.user_id = b.user_id
        |    AND a.event_id < b.event_id AND a.st < b.en AND b.st < a.en)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(ov_us AS HUGEINT)) // 1000000 AS BIGINT) AS overlap_s,
        |  CAST(MAX(ov_us) AS BIGINT) AS max_overlap_us
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_basket_pairs" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS ord, l_partkey AS item
        |  FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT ord) AS n_orders FROM b),
        |sup AS (
        |  SELECT item, COUNT(*) AS sup FROM b GROUP BY item
        |  HAVING COUNT(*) >= 2),
        |fb AS (SELECT b.ord, b.item, sup.sup FROM b JOIN sup USING (item)),
        |pairs AS (
        |  SELECT x.item AS a, y.item AS b, x.sup AS sa, y.sup AS sb,
        |    COUNT(*) AS pair_sup
        |  FROM fb x JOIN fb y ON x.ord = y.ord AND x.item < y.item
        |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 2)
        |SELECT a, b, CAST(pair_sup AS BIGINT) AS pair_sup,
        |  CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb,
        |  CAST((1000 * pair_sup) // sa AS BIGINT) AS conf_milli,
        |  CAST((1000 * CAST(pair_sup AS HUGEINT) * n_orders)
        |    // (CAST(sa AS HUGEINT) * sb) AS BIGINT) AS lift_milli
        |FROM pairs CROSS JOIN n ORDER BY a, b""".stripMargin,
    "q_join_bucketed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_custkey, o_orderstatus
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_left" ->
      """SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_cust
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_nationkey, n_name ORDER BY n_nationkey""".stripMargin,
    "q_join_full" ->
      """SELECT c_nationkey, s_nationkey, n_cust, n_supp FROM
        |  (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) c
        |FULL JOIN
        |  (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
        |ON c_nationkey = s_nationkey
        |ORDER BY c_nationkey NULLS FIRST, s_nationkey NULLS FIRST""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_range" ->
      """SELECT band, COUNT(*) AS n_parts, MIN(p_size) AS min_size,
        |  MAX(p_size) AS max_size,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part JOIN (SELECT r_regionkey AS band FROM region) b
        |ON p_size BETWEEN band*10 + 1 AND band*10 + 10
        |GROUP BY band ORDER BY band""".stripMargin,
    "q_join_asof" ->
      """SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
        |  o.o_orderkey, o.o_totalprice
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
        |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
        |) o ON true
        |ORDER BY e.event_id""".stripMargin,
    "q_subquery_avg" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_multiway" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
}
