package graft
import java.nio.file.{Files, Paths}

/** Plan-dump tool for the optimization rounds: writes each named query's
  * `.explain("formatted")` output to `<outDir>/<name>_<tag>.txt` so plan
  * claims in OPTIMIZATION_r*.md are checkable without running Spark.
  * Usage: runMain graft.Explain <sfDir> <outDir> <tag> [q1,q2,...]
  * (no filter = every registered query).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        // The formatted plan stops at `Scan ExistingRDD` wherever an
        // operator localCheckpoints an intermediate — the stages BEFORE
        // the checkpoint (e.g. a scan-parallelism repartition) are
        // invisible there (the r14 q_cms_topk evidence gap). The RDD
        // debug string keeps the full physical lineage as long as the
        // lazy checkpoint has not materialized, so dump it too.
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.rdd.txt"),
          df.rdd.toDebugString)
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
