package graft

/** Time a single registered query: `runMain graft.BenchOne <name> [sfDir] [runs]`.
  * Same session shape as Bench; prints per-run seconds and the min.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.fromEnv("graft-bench-one")
    // Optional per-RUN stage metrics (r14): SPARK_GRAFT_STAGES_OUT=<file>
    // attaches the bench's StageMetricsListener with one group per run,
    // so isolated A/Bs can read jobs/tasks/shuffle instead of trusting
    // wall-clock noise. Off by default; graft.Bench is untouched.
    val stagesOut = sys.env.get("SPARK_GRAFT_STAGES_OUT")
    val listener = stagesOut.map { _ =>
      val l = new graft.util.StageMetricsListener
      spark.sparkContext.addSparkListener(l)
      l
    }
    val fn = SparkEntry.queries(name)
    val times = (1 to runs).map { i =>
      listener.foreach { l =>
        l.registerGroup(s"${name}_run$i")
        spark.sparkContext.setJobGroup(s"${name}_run$i", name, interruptOnCancel = false)
      }
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[benchone] run $i: $t%.3f s ($n rows)")
      t
    }
    println(f"[benchone] $name min=${times.min}%.3f s")
    stagesOut.foreach { p =>
      spark.sparkContext.clearJobGroup()
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        listener.get.toJson.getBytes("UTF-8"))
      println(s"[benchone] stages -> $p")
    }
    spark.stop()
  }
}
