package graft

import graft.config.JsonConfig.quote
import graft.queries.QueryDef
import graft.util.{SessionStage, StageMetricsListener}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import scala.util.control.NonFatal

/** Registry timings over `$SPARK_GRAFT_SF_DIR` (default sf0.1).
  *
  *   - `runMain graft.Bench` sweeps every row in registry order. The
  *     per-row map goes to BENCH_FULL.json (`$SPARK_GRAFT_BENCH_OUT`
  *     sets the path), the per-row stage report to BENCH_STAGES.json
  *     beside it, and one totals JSON line is printed last: the
  *     driver reads only a bounded stdout tail.
  *   - `runMain graft.Bench <row>[,<row>…] [runs]` times each named
  *     row `runs` times (default 3), printing one JSON line per run
  *     with its seconds, rows, jobs, tasks and shuffle-write bytes.
  *     It writes no file and exits 1 if any row failed.
  */
object Bench {

  /** Seconds per measure (-1 where that run failed) and the failure's
    * [[SparkEntry.cause]].
    */
  final case class Score(name: String, cold: Double, steady: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rows = SparkEntry.select(args.headOption.toSeq.flatMap(_.split(",")))
    val spark = GraftSession.fromEnv("graft-bench")
    // sim_hybrid_rrf's two audited, bounded global windows (see
    // PlanGuardSpec) warn once per task; hundreds of lines would push
    // the totals line out of the driver's stdout tail.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    // Job-group attribution of task and shuffle metrics per row: the
    // reference's StageTimer report (utils.py:212-270).
    val listener = new StageMetricsListener
    spark.sparkContext.addSparkListener(listener)
    if (args.nonEmpty) {
      val runs = if (args.length > 1) args(1).toInt else 3
      val ok = probe(spark, rows, sfDir, runs, listener)
      spark.stop()
      if (!ok) sys.exit(1)
    } else {
      val scores = score(spark, rows, sfDir, listener)
      GraftBridge.drainListenerBus(spark)
      val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))
      writeQuiet(out, fullJson(scores, sfDir, spark.sparkContext.defaultParallelism))
      writeQuiet(out.resolveSibling("BENCH_STAGES.json"), listener.toJson)
      try spark.stop()
      catch { case NonFatal(e) => System.err.println(s"[bench] stop: ${SparkEntry.cause(e)}") }
      println(s"""{${totals(scores)},"queries_file":"${out.toAbsolutePath}","sf":"$sfDir"}""")
    }
  }

  /** Two timed runs per row: `cold` is the first (codegen, JIT and GC
    * debt included), `steady` the min of both. A row whose second run
    * fails keeps its cold time.
    */
  private[graft] def score(
      spark: SparkSession,
      rows: Seq[QueryDef],
      sfDir: String,
      listener: StageMetricsListener
  ): Seq[Score] = {
    val times = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val failed = SparkEntry.runEach(spark, rows) { q =>
      System.gc()
      listener.registerGroup(q.name)
      val cold = run(spark, q, sfDir)._2
      times(q.name) = (cold, -1.0)
      times(q.name) = (cold, math.min(cold, run(spark, q, sfDir)._2))
    }.map { case (q, e) => q.name -> SparkEntry.cause(e) }.toMap
    rows.map { q =>
      val (cold, steady) = times.getOrElse(q.name, (-1.0, -1.0))
      Score(q.name, cold, steady, failed.get(q.name))
    }
  }

  /** The totals fields of stdout and BENCH_FULL.json; failed runs do
    * not subtract from the sums.
    */
  private[graft] def totals(scores: Seq[Score]): String = {
    def sum(f: Score => Double) = fmt(scores.map(f).filter(_ > 0).sum)
    s""""metric":"total","value":${sum(_.steady)},"value_cold":${sum(_.cold)},"unit":"sec",""" +
      s""""n_queries":${scores.size},"n_failed":${scores.count(_.steady < 0)}"""
  }

  private[graft] def fullJson(scores: Seq[Score], sfDir: String, cpus: Int): String = {
    val qs = scores.map { s =>
      s"""${quote(s.name)}:{"cold":${fmt(s.cold)},"steady":${fmt(s.steady)}""" +
        s.error.fold("")(e => s""","error":${quote(e)}""") + "}"
    }
    s"""{${totals(scores)},"queries":${qs.mkString("{", ",", "}")},"sf":${quote(sfDir)},"cpus":$cpus}"""
  }

  /** One JSON line per run of each row; false when a row failed. */
  private def probe(spark: SparkSession, rows: Seq[QueryDef], sfDir: String, runs: Int,
      listener: StageMetricsListener): Boolean =
    SparkEntry.runEach(spark, rows) { q =>
      (1 to runs).foreach { i =>
        // The job group (the row's name) is not registered, so the
        // run's jobs fold into this latest registration.
        val group = s"${q.name}#$i"
        listener.registerGroup(group)
        val (n, secs) = run(spark, q, sfDir)
        GraftBridge.drainListenerBus(spark)
        val (jobs, tasks, shuffle) = listener.snapshot().get(group)
          .fold((0, 0, 0L))(a => (a.jobs, a.tasks, a.shuffleWriteBytes))
        println(s"""{"row":${quote(q.name)},"run":$i,"seconds":${fmt(secs)},"rows":$n,""" +
          s""""jobs":$jobs,"tasks":$tasks,"shuffle_write_bytes":$shuffle}""")
      }
    }.isEmpty

  /** One timed run of `q` (its row count and seconds) on a new session
    * of the same SparkContext, so a row that stages an artifact through
    * `SessionStage` builds it in every run instead of reading the
    * previous run's; the session's staging is released after the run.
    */
  private def run(spark: SparkSession, q: QueryDef, sfDir: String): (Long, Double) = {
    val session = spark.newSession()
    val t0 = System.nanoTime()
    try (q.fn(Tables(session, sfDir)).count(), (System.nanoTime() - t0) / 1e9)
    finally SessionStage.release(session)
  }

  private def fmt(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  private def writeQuiet(p: Path, s: String): Unit =
    try Files.write(p, s.getBytes("UTF-8"))
    catch { case e: java.io.IOException => System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
}
