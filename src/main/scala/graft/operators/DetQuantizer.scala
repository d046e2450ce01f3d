package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Engine-independent deterministic k-means coarse quantizer (SURVEY.md §2
  * B-10 similarity family): the cross-engine-reproducible replacement for
  * the seeded mllib fit in the ORACLE-CHECKED query paths (`q_sim_ivf`,
  * `q_dedup_semantic`). mllib's k-means is deterministic given a seed but
  * only within this engine — its k-means|| init and float accumulation
  * order are not reproducible in SQL, which left the whole IVF/SemDeDup
  * family rows-only-checked. This quantizer is built so the SAME fit can be
  * expressed as generated DuckDB SQL ([[fitSql]]) and hash-compared, the
  * unrolled-iteration-oracle discipline proven by `Bpe.trainOracleSql` and
  * the integer PageRank rounds.
  *
  * The determinism contract (every piece exact in both engines):
  *  - Vectors quantize ONCE to integer micro-units:
  *    `round(x_double · 10⁶) :: bigint` (half-away-from-zero in both
  *    engines, like every 6-dp oracle round in this repo).
  *  - Seeding: the k vectors with the smallest `(md5(vec_id::varchar),
  *    vec_id)` — a fixed pseudo-random draw with a total-order tiebreak,
  *    no RNG.
  *  - Distance: Σ(aᵢ−bᵢ)² in int64 ([[graft.expressions.LongL2Sq]]) —
  *    bit-identical everywhere.
  *  - Lloyd update: per-dimension FLOORED integer mean
  *    `(s − pmod(s, n)) div n`; empty cells keep their previous centroid.
  *  - Assignment ties break to the lowest cell id.
  *
  * Scale shape: the fit is `rounds` passes of (corpus × k broadcast
  * distance + one map-side-partial aggregate); the centroid table is k
  * rows and always broadcasts; the corpus and each round's centroids go
  * through [[Rounds.materialize]]. At 100 TB the fit runs on a corpus
  * sample like any coarse quantizer; assignment stays the only full pass.
  * A fixed small `rounds` (default 3) is plenty for a COARSE quantizer —
  * cells need rough balance, not convergence (recall is asserted in
  * SimilaritySpec either way).
  */
object DetQuantizer {

  /** Micro-unit scale: 6 decimal places — the same precision every rounded
    * oracle comparison in this repo already standardizes on. */
  val Scale = 1000000L

  val DefaultRounds = 3

  /** `array<float|double> → array<bigint>` micro-unit quantization. */
  def microQuantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * lit(1000000.0)).cast("long"))

  /** Fit `k` cells over `corpus(idCol, embCol)`: returns the (k-row)
    * centroid table `(cell_id, cent: array<bigint>)`. */
  def fit(corpus: DataFrame, embCol: String, idCol: String, k: Int,
      rounds: Int = DefaultRounds): DataFrame = {
    require(k > 0 && rounds >= 0, s"need k>0, rounds>=0; got k=$k rounds=$rounds")
    val e = Rounds.materialize(corpus // feeds every round
      .select(col(idCol).as("_id"), microQuantize(col(embCol)).as("_v")))
    // Seeds: k smallest (md5(id), id). orderBy+limit plans TakeOrdered (no
    // global sort); the row_number window then runs on just those k rows.
    var cents = Rounds.materialize(e
      .withColumn("_h", md5(col("_id").cast("string")))
      .orderBy(col("_h"), col("_id")).limit(k)
      .withColumn("cell_id",
        row_number().over(Window.orderBy(col("_h"), col("_id"))) - 1)
      .select(col("cell_id"), col("_v").as("cent")))
    var r = 0
    while (r < rounds) {
      // Assignment: corpus × k broadcast, min(struct) keeps the map-side
      // partial-aggregate shape (no window shuffle inside the fit loop);
      // the struct order (dist, cell_id, v) IS the tie rule, and v is
      // never compared because (dist, cell_id) is unique per row.
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("_d", VectorFunctions.longL2Sq(col("_v"), col("cent")))
        .groupBy("_id")
        .agg(min(struct(col("_d"), col("cell_id"), col("_v"))).as("m"))
        .select(col("m.cell_id").as("cell_id"), col("m._v").as("_v"))
      // Update: floored integer mean per (cell, dim), rebuilt into ordered
      // centroid arrays; cells that lost every member keep their previous
      // centroid (coalesce), so k never shrinks.
      val next = assigned
        .select(col("cell_id"), posexplode(col("_v")).as(Seq("_i", "_x")))
        .groupBy("cell_id", "_i")
        .agg(sum(col("_x")).as("s"), count(lit(1)).as("n"))
        .withColumn("c", expr("(s - ((s % n) + n) % n) div n"))
        .groupBy("cell_id")
        .agg(transform(array_sort(collect_list(struct(col("_i"), col("c")))),
          p => p.getField("c")).as("cent2"))
      cents = Rounds.materialize(cents.join(next, Seq("cell_id"), "left")
        .select(col("cell_id"),
          coalesce(col("cent2"), col("cent")).as("cent")))
      r += 1
    }
    cents
  }

  /** Assign every row of `df` to its nearest cell (ties → lowest cell id):
    * `df.* + cell_id`. One corpus pass against the broadcast k-row centroid
    * table; the per-id window is k rows wide and WindowGroupLimit keeps the
    * pre-shuffle state at one row per id. */
  def assign(df: DataFrame, embCol: String, idCol: String,
      cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(asc("_d"), asc("cell_id"))
    df.withColumn("_v", microQuantize(col(embCol)))
      .crossJoin(broadcast(cents))
      .withColumn("_d", VectorFunctions.longL2Sq(col("_v"), col("cent")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_v", "_d", "_rn", "cent")
  }

  /** Each query's `nProbe` nearest cells by the same integer distance
    * (ties → lowest cell id): `queries.* + cell_id`, nProbe rows per
    * query. Both sides are tiny (serving batch × k cells) — all
    * broadcast, no shuffle. */
  def probe(queries: DataFrame, embCol: String, idCol: String,
      cents: DataFrame, nProbe: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(asc("_d"), asc("cell_id"))
    broadcast(queries).withColumn("_v", microQuantize(col(embCol)))
      .crossJoin(broadcast(cents))
      .withColumn("_d", VectorFunctions.longL2Sq(col("_v"), col("cent")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= nProbe)
      .drop("_v", "_d", "_rn", "cent")
  }

  /** Centroids as `array<double>` in original embedding units (for cosine
    * scoring against raw vectors): exact int64→double conversion followed
    * by one double division — the identical two steps the oracle SQL does. */
  def centToDouble(cent: Column): Column =
    transform(cent, c => c.cast("double") / lit(1000000.0))

  // ---- generated DuckDB oracle ----

  /** DuckDB CTE chain reproducing [[fit]] bit-for-bit over `table(idCol,
    * embCol)` with dimension `d`: emits CTEs `e` (micro-unit vectors,
    * `(vec_id, v)`) and `c0..c{rounds}` (centroid tables, `(cell_id,
    * cent)`); the caller composes them into a full query (the final
    * centroids are `c{rounds}`, aliased `cfin`). Generated, not
    * handwritten — the SQL is a deterministic function of (k, rounds, d),
    * exactly like `Bpe.trainOracleSql`. */
  def fitSqlCtes(table: String, idCol: String, embCol: String, k: Int,
      rounds: Int, d: Int, prefix: String = ""): String = {
    val p = prefix
    val head =
      s"""${p}e AS MATERIALIZED (
         |  SELECT $idCol AS vec_id,
         |    list_transform($embCol, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM $table),
         |${p}c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell_id,
         |    v AS cent
         |  FROM ${p}e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)""".stripMargin
    val loop = (0 until rounds).map { r =>
      s"""${p}a$r AS MATERIALIZED (
         |  SELECT vec_id, v, cell_id FROM (
         |    SELECT e.vec_id, e.v, c.cell_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_sum(list_transform(list_zip(e.v, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))),
         |        c.cell_id) AS rn
         |    FROM ${p}e e, ${p}c$r c) WHERE rn = 1),
         |${p}m$r AS MATERIALIZED (
         |  SELECT cell_id,
         |    CAST(list((s - (((s % n) + n) % n)) // n ORDER BY i) AS BIGINT[]) AS cent
         |  FROM (SELECT cell_id, i, CAST(SUM(v[i]) AS BIGINT) AS s, COUNT(*) AS n
         |        FROM ${p}a$r CROSS JOIN range(1, ${d + 1}) t(i)
         |        GROUP BY cell_id, i)
         |  GROUP BY cell_id),
         |${p}c${r + 1} AS MATERIALIZED (
         |  SELECT p.cell_id, coalesce(m.cent, p.cent) AS cent
         |  FROM ${p}c$r p LEFT JOIN ${p}m$r m USING (cell_id))""".stripMargin
    }
    val fin = s"${p}cfin AS (SELECT cell_id, cent FROM ${p}c$rounds)"
    (head +: loop :+ fin).mkString(",\n")
  }

  /** Final-assignment CTE (`{prefix}asg AS (vec_id, cell_id)`) against
    * `{prefix}cfin` — the SQL mirror of [[assign]]. */
  def assignSqlCte(prefix: String = ""): String = {
    val p = prefix
    s"""${p}asg AS MATERIALIZED (
       |  SELECT vec_id, cell_id FROM (
       |    SELECT e.vec_id, c.cell_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(e.v, c.cent), p -> (p[1]-p[2])*(p[1]-p[2]))),
       |        c.cell_id) AS rn
       |    FROM ${p}e e, ${p}cfin c) WHERE rn = 1)""".stripMargin
  }
}
