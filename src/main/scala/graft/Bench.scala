package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv("graft-bench")
    // sim_hybrid_rrf's two allowlisted constant-size (≤50-row) global
    // windows emit `WARN WindowExec: No Partition Defined` once per
    // task — hundreds of lines that pushed the totals JSON out of the
    // driver's bounded stdout tail in r05/r06 (BENCH parsed:null).
    // The warning is audited (PlanGuardSpec allowlists exactly those
    // two windows with boundedness proofs), so silence it for bench.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    // Two timed runs per query, BOTH reported (round-5 verdict #7:
    // SURVEY quoted min-of-two steady-state while the driver artifact
    // read cold — one artifact now carries both columns so every
    // consumer quotes the same measurement):
    //   cold   = first run (codegen/JIT + GC debt included) — the
    //            driver's round-over-round canonical;
    //   steady = min of two — the operator-cost signal plan work is
    //            judged by.
    // Per-query stage/shuffle report (the reference's StageTimer
    // analogue, utils.py:212-270): job-group attribution folds task
    // metrics per query; written beside the totals as BENCH_STAGES.
    val stageListener = new graft.util.StageMetricsListener
    spark.sparkContext.addSparkListener(stageListener)
    val results = SparkEntry.queries.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
        (System.nanoTime() - t0) / 1e9
      }
      stageListener.registerGroup(name)
      spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      val cold = once()
      val b = if (cold >= 0) once() else cold
      spark.sparkContext.clearJobGroup()
      System.gc()
      val steady = if (cold < 0 || b < 0) -1.0 else math.min(cold, b)
      // Report cold AS MEASURED even when only the steady run failed:
      // cold=-1 means the first run failed; cold>=0 with steady=-1
      // means the second run failed — the two modes stay
      // distinguishable in the artifact.
      name -> ((cold, steady))
    }
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // Per-query regression gate (round-8 verdict #2): diff against the
    // previous round's full map so a regression is visible IN the
    // artifact, not via git archaeology. The prior map is the
    // highest-stamped BENCH_FULL_r<N>.json beside the output; its
    // format is this very writer's, so the literal-shape regex is
    // format-stable. Each query gains prev_steady and ratio
    // (steady/prev_steady, 4 dp; absent for new queries or failed
    // runs).
    val prevSteady: Map[String, Double] = try {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
        .toAbsolutePath.getParent.toFile
      val frx = "BENCH_FULL_r(\\d+)\\.json".r
      val prior = Option(dir.list()).getOrElse(Array.empty[String])
        .flatMap(n => frx.findFirstMatchIn(n).map(m => m.group(1).toInt -> n))
        .sortBy(-_._1).headOption.map(_._2)
      prior.map { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(dir, f).toPath), "UTF-8")
        val qrx = "\"([A-Za-z0-9_]+)\":\\{\"cold\":(-?[0-9.]+),\"steady\":(-?[0-9.]+)".r
        qrx.findAllMatchIn(txt).map(m => m.group(1) -> m.group(3).toDouble).toMap
      }.getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }
    val qs = results.map { case (k, (c, s)) =>
      val base = s"\"" + k + "\":{\"cold\":" + fmt(c) + ",\"steady\":" + fmt(s)
      val diff = prevSteady.get(k) match {
        case Some(p) if p > 0 && s > 0 =>
          ",\"prev_steady\":" + fmt(p) + ",\"ratio\":" + fmt(s / p)
        case _ => ""
      }
      base + diff + "}"
    }.mkString("{", ",", "}")
    // Failure sentinels (-1) must not SUBTRACT from the headlines.
    val totalCold = results.values.map(_._1).filter(_ > 0).sum
    val totalSteady = results.values.map(_._2).filter(_ > 0).sum
    val nFail = results.values.count(_._2 < 0)
    // The driver captures only a bounded stdout tail: at 143 queries
    // the full per-query map no longer fits (round 4's BENCH artifact
    // came back parsed:null). So the full map goes to a file in the
    // repo for the judge, and stdout carries ONE short, always-
    // parseable totals line. `value` stays the steady-state total for
    // round-over-round continuity; `value_cold` is the cold twin.
    val totals =
      s""""metric":"total","value":${fmt(totalSteady)},"value_cold":${fmt(totalCold)},"unit":"sec","n_queries":${results.size},"n_failed":$nFail"""
    val full = s"""{$totals,"queries":$qs,"sf":"$sfDir"}"""
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
    def writeQuiet(p: java.nio.file.Path, s: String): Unit =
      try java.nio.file.Files.write(p, s.getBytes("UTF-8"))
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    writeQuiet(outPath, full)
    // BENCH_FULL.json is overwritten every round, which made per-query
    // round-over-round diffs a git-archaeology exercise. Stamp a
    // round-numbered copy beside it: the current round is one past the
    // highest driver-written BENCH_r<N>.json in the repo root.
    val roundNum: Option[Int] = try {
      val dir = outPath.toAbsolutePath.getParent.toFile
      val rx = "BENCH_r(\\d+)\\.json".r
      val rounds = Option(dir.list()).getOrElse(Array.empty[String])
        .flatMap(n => rx.findFirstMatchIn(n).map(_.group(1).toInt))
      if (rounds.nonEmpty) Some(rounds.max + 1) else None
    } catch { case _: Throwable => None }
    val stamp = roundNum.map(n => f"_r$n%02d").getOrElse("")
    if (stamp.nonEmpty)
      writeQuiet(outPath.resolveSibling(s"BENCH_FULL$stamp.json"), full)
    // Stage/shuffle report: per-query exchange volume is the fact the
    // 100 TB plan audit actually needs (bytes through shuffles, spill,
    // input pruning) — timings alone can hide a scale-killer.
    val stagesJson = stageListener.toJson
    writeQuiet(outPath.resolveSibling("BENCH_STAGES.json"), stagesJson)
    if (stamp.nonEmpty)
      writeQuiet(outPath.resolveSibling(s"BENCH_STAGES$stamp.json"), stagesJson)
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] stop: ${e.getMessage}") }
    // Totals line LAST, after every Spark/log line has been flushed:
    // the driver reads a bounded stdout tail, so the one parseable
    // line must be the final thing this process prints (file write +
    // stop are exception-guarded above so nothing can pre-empt it).
    println(s"""{$totals,"queries_file":"${outPath.toAbsolutePath}","sf":"$sfDir"}""")
  }
}
