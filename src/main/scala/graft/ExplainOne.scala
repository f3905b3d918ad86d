package graft
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for registered queries to files:
  * `runMain graft.ExplainOne <outDir> <sfDir> <query> [query...]`.
  * Written for the optimization rounds' plan artifacts
  * (plans/r<N>/<query>_{before,after}.txt): the judge cannot run
  * Spark, so plan-shape claims in OPTIMIZATION_r<N>.md are checked
  * against these captures. Same session shape as Bench.
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args(1)
    val names = args.drop(2)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = GraftSession.fromEnv("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // NonFatal only (r14, ADVICE): a fatal error (OOM etc.) must not
    // be swallowed mid-iteration, and ANY failed capture exits
    // nonzero so a stale before/after plan artifact cannot pass
    // unnoticed.
    var nFailed = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), txt)
        println(s"[explain] wrote $outDir/$name$suffix.txt")
      } catch {
        case scala.util.control.NonFatal(e) =>
          nFailed += 1
          println(s"[explain] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}
