package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds (fractional for the
  * spans the harness times itself). `parent` is 0 for operation spans
  * and for child spans no operation contained.
  */
final class Span(val id: Long, val name: String, val startMs: Double, var endMs: Double) {
  var parent: Long = 0L
  var iteration: Int = 0
  var detail: String = ""
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def durMs: Double = endMs - startMs
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch ms with nanosecond resolution, comparable with the epoch-ms
    * stamps Spark puts on jobs, tasks and planning phases.
    */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder. The harness opens an operation span around
  * each call into a graft layer; Spark's listeners add job spans (with
  * task counters) and Catalyst-phase spans. Listener events arrive
  * asynchronously, so children are attached to the operation whose
  * interval contains their start once the listener bus has drained.
  */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val openJobs = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def newSpan(name: String, start: Double, end: Double): Span =
    new Span(ids.incrementAndGet(), name, start, end)

  def spans: Seq[Span] = synchronized(done.toList)

  def record(name: String, start: Double, end: Double, iteration: Int): Span = synchronized {
    val s = newSpan(name, start, end)
    s.iteration = iteration
    done += s
    s
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = newSpan("exec.job", e.time.toDouble, e.time.toDouble)
      s.add("stages", e.stageIds.size)
      openJobs(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { s =>
        s.endMs = e.time.toDouble
        done += s
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (jobId <- stageJob.get(e.stageId); s <- openJobs.get(jobId)) {
        s.add("tasks", 1)
        val launch = e.taskInfo.launchTime.toDouble
        s.counters("first_launch_ms") =
          math.min(s.counters.getOrElse("first_launch_ms", Double.MaxValue), launch)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_ms", m.executorRunTime)
          s.add("gc_ms", m.jvmGCTime)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          s.add("input_bytes", m.inputMetrics.bytesRead)
          s.add("input_records", m.inputMetrics.recordsRead)
          s.counters("peak_exec_mem_bytes") =
            math.max(s.counters.getOrElse("peak_exec_mem_bytes", 0.0), m.peakExecutionMemory.toDouble)
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "parsing") done += newSpan(s"plans.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Attach every unparented child span to the operation span of
    * `iteration` whose interval contains its start (1 ms slack for the
    * millisecond stamps on Spark's events).
    */
  def link(iteration: Int): Unit = synchronized {
    val ops = done.filter(s => s.iteration == iteration && !isChild(s))
      .sortBy(_.startMs)
    done.filter(s => isChild(s) && s.parent == 0).foreach { c =>
      ops.find(o => c.startMs >= o.startMs - 1.0 && c.startMs <= o.endMs + 1.0).foreach { o =>
        c.parent = o.id
        c.iteration = iteration
      }
    }
  }

  /** Job and planning spans come from Spark's listeners; every other span
    * is an operation the harness timed.
    */
  def isChild(s: Span): Boolean = s.name == "exec.job" || s.name.startsWith("plans.")

  /** Length of the union of `spans`' intervals clipped to `op`. */
  def cover(op: Span, spans: Seq[Span]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    spans.map(s => (math.max(s.startMs, op.startMs), math.min(s.endMs, op.endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Spans as JSON lines: run id, span id, parent id, name, start, end,
    * self time (duration minus child cover) and counters.
    */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val all = spans
    val byParent = all.groupBy(_.parent)
    val lines = all.sortBy(_.startMs).map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
      val self = s.durMs - cover(s, kids)
      val counters = s.counters.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(",")
      s"""{"run":${Json.str(runId)},"span":${s.id},"parent":${s.parent},"iteration":${s.iteration},""" +
        s""""name":${Json.str(s.name)},"detail":${Json.str(s.detail)},"start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""self_ms":${Json.num(self)},"counters":{$counters}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
