package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for registered queries to files:
  * `runMain graft.ExplainOne <outDir> <sfDir> [query...]` (no query
  * named means every row). Written for the optimization rounds' plan
  * artifacts (plans/r<N>/<query>_{before,after}.txt): plan-shape
  * claims in OPTIMIZATION_r<N>.md are checked against these captures
  * without running Spark. Same session shape as Bench. Any failed
  * capture exits nonzero, so a stale before/after plan artifact
  * cannot pass unnoticed.
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val rows = SparkEntry.select(args.drop(2).toSeq)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = GraftSession.fromEnv("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val t = Tables(spark, sfDir)
    val failed = SparkEntry.runEach(spark, rows) { q =>
      val txt = q.fn(t).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${q.name}$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${q.name}$suffix.txt")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
