package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation over a graph — the sampling
  * step that turns a graph into training sequences for skip-gram node
  * embeddings (DeepWalk, Perozzi et al. 2014; node2vec's p=q=1 case).
  * "Random" is a keyed hash, not an RNG: step i of walk w moves to
  * neighbor rank `md5(seed|w|i) mod deg(cur)` — so the whole corpus is a
  * pure function of (graph, starts, seed), replays identically across
  * runs/engines/partitionings, and the DuckDB oracle reproduces every
  * step bit-for-bit (the q_dp_counts PRF discipline applied to sampling;
  * a new seed is a new sample). Neighbor ranks come from a per-source
  * (dst-ordered) window — bounded by degree, never corpus-wide.
  *
  * Scale shape: each step is ONE equi-join of the walk frontier against
  * the ranked adjacency on the current node, which carries the node's
  * degree, keeping the chosen rank — hash-partitioned on the node key,
  * cost ∝ the frontier's out-edges. The frontier goes through
  * [[Rounds.materialize]] every step; walks never fork, so the planner
  * broadcasts it for a seed-set walk and shuffles it for all-nodes
  * DeepWalk, by its measured size. Dead-end nodes
  * terminate their walk (emitted steps stop — standard DeepWalk
  * truncation). Output is EXPLODED (walk_id, step, node) rows, one per
  * visited position, so downstream skip-gram windowing is one
  * self-join/window away and the contract stays scalar. */
object Walks {

  /** `steps`-step walks over directed `edges` from each `starts(startCol)`
    * node: (walk_id = start node, step, node), step 0 at the start. */
  def deterministicWalks(edges: DataFrame, srcCol: String, dstCol: String,
      starts: DataFrame, startCol: String, steps: Int,
      seed: String): DataFrame = {
    require(steps >= 1 && steps <= 50, s"steps must be in [1, 50]: $steps")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
    val w = Window.partitionBy("src").orderBy("dst")
    val nbr = Rounds.materialize(e
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .withColumnRenamed("src", "node"))
    var frontier = Rounds.materialize(starts.select(
      col(startCol).as("walk_id"), col(startCol).as("node"),
      lit(0L).as("step")))
    var out = frontier
    for (i <- 1 to steps) {
      val pick = conv(substring(md5(concat(lit(seed), lit("|"),
        col("walk_id").cast("string"), lit("|"), lit(i.toString))), 1, 12),
        16, 10).cast("long")
      frontier = Rounds.materialize(frontier
        .join(nbr, Seq("node")) // dead ends drop
        .filter(col("rn") === pmod(pick, col("deg")))
        .select(col("walk_id"), col("dst").as("node"),
          lit(i.toLong).as("step")))
      out = out.unionAll(frontier)
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }

  /** Generated unrolled-step DuckDB oracle for [[deterministicWalks]]:
    * callers provide CTEs `e(src, dst)` (distinct directed edges) and
    * `starts(node)`; this appends `nbr/deg/w0..wN` and the final UNION,
    * from the same constants as the engine loop. */
  def walksOracleSql(steps: Int, seed: String): String = {
    // NOTE: generated lines must never START with "||" — this string is
    // interpolated into a caller template whose own stripMargin would eat
    // the first pipe and turn concat into bitwise-or. Keep "||" at EOL.
    val hash = (i: Int) =>
      s"""CAST(list_sum(list_transform(range(1, 13), h ->
         |      CAST(strpos('0123456789abcdef',
         |        substr(md5('$seed' || '|' ||
         |          CAST(w.walk_id AS VARCHAR) || '|' || '$i'),
         |          CAST(h AS INTEGER), 1)) - 1 AS BIGINT)
         |        << (4 * (12 - CAST(h AS INTEGER))))) AS BIGINT)""".stripMargin
    val head =
      """nbr AS (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn
        |  FROM e),
        |deg AS (SELECT src, COUNT(*) AS deg FROM nbr GROUP BY 1),
        |w0 AS (SELECT node AS walk_id, node, CAST(0 AS BIGINT) AS step
        |       FROM starts)""".stripMargin
    val stepCtes = (1 to steps).map { i =>
      s"""w$i AS (
         |  SELECT w.walk_id, n.dst AS node, CAST($i AS BIGINT) AS step
         |  FROM w${i - 1} w
         |  JOIN deg d ON d.src = w.node
         |  JOIN nbr n ON n.src = w.node
         |    AND n.rn = ${hash(i)} % d.deg)""".stripMargin
    }
    val union = (0 to steps).map(i =>
      s"SELECT walk_id, step, node FROM w$i").mkString("\nUNION ALL\n")
    (head +: stepCtes).mkString(",\n") + "\n" + union
  }
}
