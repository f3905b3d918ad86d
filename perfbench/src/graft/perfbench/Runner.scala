package graft.perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

final case class IterStats(iteration: Int, wallS: Double, cpuS: Double, items: Long,
    inBytes: Double, outBytes: Double, attempted: Int, failed: Int, traced: Boolean)

final case class Failure(iteration: Int, op: String, cls: String, message: String)

/** Runs one workload in one JVM: the set-up, a first iteration, then
  * steady iterations for `--seconds` (at least `MinSteady`), each on a
  * fresh `newSession()` so module-level caches keyed on the session miss.
  * Spark runs on `local[<cores>]` with as many shuffle partitions.
  * Writes the raw measurements as JSON to `--out`.
  *
  * {{{
  *   graft.perfbench.Runner --workload W --spec spec.json --work DIR
  *     --seconds S --trace 0|1 --out result.json
  * }}}
  */
object Runner {

  /** Steady iterations per run at least, whatever `--seconds` says: the
    * JIT is still warming up, and medians over fewer iterations drifted
    * between runs.
    */
  val MinSteady = 5

  def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${firstLine(e)}"

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def session(cpus: Int, work: Path): SparkSession = {
    val s = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus, appName = "perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val spec = Json.read(opt("spec"))
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val checks = new Checks
    val wl = Workload(name, spec, work, checks)

    // The set-up counts from JVM start: what a one-shot user pays before
    // the first operation.
    val spark = session(cpus, work)
    val catalogMs = wl.prepare(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val tracer = new Tracer(s"$name-${spec.get("seed").asText}")
    val failures = mutable.ArrayBuffer.empty[Failure]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var firstLayers = Map.empty[String, Double]

    def iterate(i: Int, traced: Boolean): IterStats = {
      val s = spark.newSession()
      val ops = wl.ops(s, i, traced)
      if (traced) tracer.attach(s)
      val compile0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      var wall = 0L
      var cpu = 0L
      var items = 0L
      var inB, outB = 0.0
      var failed = 0
      ops.foreach { op =>
        val c0 = cpuBean.getProcessCpuTime
        val start = Clock.nowMs
        val t0 = System.nanoTime()
        val res = try Right(op.body()) catch { case NonFatal(e) => Left(e) }
        wall += System.nanoTime() - t0
        val end = Clock.nowMs
        cpu += cpuBean.getProcessCpuTime - c0
        res match {
          case Right(n) =>
            items += n
            val ctr = try op.after(n) catch {
              case NonFatal(e) =>
                checks(s"$name.iter$i.${op.name}.after", ok = false, describe(e))
                Map.empty[String, Double]
            }
            inB += ctr.getOrElse("in_bytes", 0.0)
            outB += ctr.getOrElse("out_bytes", 0.0)
            if (traced) {
              val sp = tracer.record(op.name, start, end, i)
              sp.detail = op.detail
              sp.add("items", n.toDouble)
              ctr.foreach { case (k, v) => sp.add(k, v) }
            }
          case Left(e) =>
            failed += 1
            failures += Failure(i, op.name, e.getClass.getName, firstLine(e))
        }
      }
      if (traced) {
        tracer.detach(s)
        tracer.link(i)
        val compileMs = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - compile0) / 1e6
        val (srcMs, trMs) = wl.probe(spark.newSession())
        val m = Layers.of(tracer, i, items) ++ Map(
          "plans.codegen_compile_ms" -> compileMs,
          "sources.construct_ms" -> srcMs,
          "operators.transform_construct_ms" -> trMs)
        if (i == 1) firstLayers = m else layers += m
      }
      IterStats(i, wall / 1e9, cpu / 1e9, items, inB, outB, ops.size, failed, traced)
    }

    val first = iterate(1, traced = trace)
    wl.verify(spark.newSession(), 1)

    // Steady state: at least `MinSteady` iterations, then stop once
    // `seconds` have passed. The JIT is still warming up here, so a
    // median over several iterations is what keeps runs comparable. A
    // traced run alternates untraced and traced iterations as
    // U T T U U T ..., so warm-up drift cancels out of the tracing
    // overhead, and runs at least three of each.
    val steady = mutable.ArrayBuffer.empty[IterStats]
    val loopStart = System.nanoTime()
    def enough = {
      val timeUp = (System.nanoTime() - loopStart) / 1e9 >= seconds
      if (trace) timeUp && steady.count(_.traced) >= 3 && steady.count(!_.traced) >= 3
      else timeUp && steady.size >= MinSteady
    }
    var i = 1
    while (!enough) {
      i += 1
      steady += iterate(i, traced = trace && Set(1, 2)((i - 2) % 4))
    }
    val rss = peakRssMb()
    wl.verify(spark.newSession(), i)
    wl.finish()
    val defect = Defects.probe(spark.newSession(), work.resolve("defect"))

    val layerOut: Map[String, Double] = if (!trace) Map.empty else {
      val keys = layers.flatMap(_.keys).distinct
      val med = keys.map(k => k -> Stats.median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap
      val untraced = Stats.median(steady.filter(!_.traced).map(_.wallS).toSeq)
      val traced = Stats.median(steady.filter(_.traced).map(_.wallS).toSeq)
      med ++ Map(
        "plans.codegen_compile_ms" -> firstLayers.getOrElse("plans.codegen_compile_ms", 0.0),
        "config.catalog_ms" -> catalogMs,
        "trace.overhead_ms" -> (traced - untraced) * 1000.0,
        "trace.untraced_iter_ms" -> untraced * 1000.0,
        "trace.traced_iter_ms" -> traced * 1000.0)
    }
    if (trace) tracer.writeJsonl(work.resolve("spans.jsonl"))

    def iterJson(s: IterStats) = Json.obj(Seq(
      "iteration" -> s.iteration.toString, "wall_s" -> Json.num(s.wallS), "cpu_s" -> Json.num(s.cpuS),
      "items" -> s.items.toString, "in_bytes" -> Json.num(s.inBytes), "out_bytes" -> Json.num(s.outBytes),
      "attempted" -> s.attempted.toString, "failed" -> s.failed.toString, "traced" -> s.traced.toString))
    val all = first +: steady.toSeq
    val result = Json.obj(Seq(
      "workload" -> Json.str(name),
      "setup_s" -> Json.num(setupS),
      "first" -> iterJson(first),
      "steady" -> Json.arr(steady.map(iterJson).toSeq),
      "attempted" -> all.map(_.attempted).sum.toString,
      "failed" -> all.map(_.failed).sum.toString,
      "failures" -> Json.arr(failures.map(f => Json.obj(Seq("iteration" -> f.iteration.toString,
        "op" -> Json.str(f.op), "class" -> Json.str(f.cls), "message" -> Json.str(f.message)))).toSeq),
      "peak_rss_mb" -> Json.num(rss),
      "checks" -> Json.arr(checks.results.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }.toSeq),
      "defect" -> defect,
      "layers" -> Json.obj(layerOut.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(Seq(
        "spark" -> Json.str(spark.version),
        "jdk" -> Json.str(System.getProperty("java.version")),
        "driver_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "cpus" -> cpus.toString))))
    Files.write(Paths.get(opt("out")), result.getBytes("UTF-8"))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Per-layer numbers of one traced iteration, from its operation spans
  * and the job and planning spans attached to them.
  */
object Layers {
  private val exportFormats = Seq("geoparquet", "fgb", "gpkg", "geojson", "shp",
    "gpkg_layers", "geojson_layers")

  def of(t: Tracer, iteration: Int, items: Long): Map[String, Double] = {
    val all = t.spans
    val ops = all.filter(s => s.iteration == iteration && !t.isChild(s))
    val kids = all.filter(_.parent != 0).groupBy(_.parent)
    def jobsOf(o: Span) = kids.getOrElse(o.id, Nil).filter(_.name == "exec.job")
    val jobs = ops.flatMap(jobsOf)
    val phases = ops.flatMap(o => kids.getOrElse(o.id, Nil)).filter(_.name.startsWith("plans."))
    def named(n: String) = ops.filter(_.name == n)
    def dur(n: String) = named(n).map(_.durMs).sum
    def ctr(n: String, k: String) = named(n).map(_.counters.getOrElse(k, 0.0)).sum
    def jsum(k: String) = jobs.map(_.counters.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("exec.jobs") = jobs.size
    m("exec.stages") = jsum("stages")
    m("exec.tasks") = jsum("tasks")
    m("exec.sched_delay_ms") = jobs.flatMap(j => j.counters.get("first_launch_ms")
      .map(l => math.max(0.0, l - j.startMs))).sum
    for (k <- Seq("task_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"))
      m(s"exec.$k") = jsum(k)
    m("exec.peak_exec_mem_bytes") = (0.0 +: jobs.map(_.counters.getOrElse("peak_exec_mem_bytes", 0.0))).max
    m("exec.job_wall_ms") = jobs.map(_.durMs).sum
    for (p <- Seq("analysis", "optimization", "planning"))
      m(s"plans.${p}_ms") = phases.filter(_.name == s"plans.$p").map(_.durMs).sum
    m("sources.input_bytes") = jsum("input_bytes")
    m("sources.input_records") = jsum("input_records")
    m("sources.rows_examined_per_row") = ratio(jsum("input_records"), items.toDouble)
    m("queries.construct_ms") = dur("queries.construct")
    m("queries.eager_jobs") = named("queries.construct").map(jobsOf(_).size).sum
    for (f <- exportFormats) {
      m(s"export.${f}_ms") = dur(s"export.$f")
      m(s"export.${f}_bytes") = ctr(s"export.$f", "out_bytes")
    }
    m("export.driver_ms") = ops.filter(_.name.startsWith("export."))
      .map(o => o.durMs - t.cover(o, jobsOf(o))).sum
    for (d <- Seq("minhash", "simhash")) {
      val op = s"operators.dedup.$d"
      m(s"operators.dedup.${d}_ms") = dur(op)
      m(s"operators.dedup.${d}_candidates") = ctr(op, "candidates")
      m(s"operators.dedup.${d}_pairs") = ctr(op, "pairs")
      m(s"operators.dedup.${d}_yield") = ratio(ctr(op, "pairs"), ctr(op, "candidates"))
    }
    m("operators.dedup.cc_ms") = dur("operators.dedup.cc")
    m("operators.dedup.cc_rounds") = ctr("operators.dedup.cc", "rounds")
    m("operators.dedup.cc_jobs") = named("operators.dedup.cc").map(jobsOf(_).size).sum
    m("operators.similarity.neardup_ms") = dur("operators.similarity.neardup")
    m("operators.similarity.ivf_ms") = dur("operators.similarity.ivf")
    m("operators.text.quality_ms") = dur("operators.text.quality")
    m.toMap
  }
}
