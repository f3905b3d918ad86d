package graft

/** Count-and-stacktrace smoke for a list of registered queries:
  * `runMain graft.RunCheck <sfDir> <query> [query...]` — the
  * fastest way to see WHY a query fails at a given sf dir (Bench
  * swallows exceptions into -1 sentinels; this prints them).
  * Round 7's 59-query testdata-encoding break was diagnosed with
  * exactly this loop.
  */
object RunCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.fromEnv("graft-runcheck")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    for (q <- args.drop(1)) {
      try { println(s"$q -> " + SparkEntry.queries(q)(spark, dir).count()) }
      catch { case e: Throwable => println(s"$q FAILED: ${e.getClass.getName}: ${e.getMessage}"); e.printStackTrace() }
    }
    spark.stop()
  }
}
