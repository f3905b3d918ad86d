package graft.util

import graft.config.JsonConfig
import org.apache.spark.scheduler._
import scala.collection.concurrent.TrieMap

/**
 * Per-query stage/shuffle observability — the Spark-native analogue of
 * the reference's StageTimer report (reference utils.py:212-270), which
 * wraps pipeline stages in wall-clock timers and prints a summary
 * table. On Spark the interesting per-stage facts are not wall-clock
 * alone but the exchange volume (shuffle bytes decide whether a plan
 * survives a 100x scale-up), so the report carries both.
 *
 * Attribution is via job groups: the bench sets
 * `sc.setJobGroup(queryName, ...)` around each query, jobs carry the
 * group in their properties, and task metrics are folded into the
 * owning group at task end (task-end folding is used instead of
 * `StageInfo.taskMetrics` because the latter's accumulator snapshot is
 * only best-effort populated at stage completion).
 *
 * Streaming queries REPLACE the job group with their run-id UUID
 * (StreamExecution sets its own group on the micro-batch thread), so
 * property-only attribution scatters st_* metrics across opaque UUIDs.
 * A sequential driver (the bench) instead calls [[registerGroup]]
 * before each query: a job whose group property is not a registered
 * name folds into the most recently registered one. With no
 * registrations the listener degrades to pure property attribution
 * (zero-config library use).
 *
 * Thread-safety: listener callbacks arrive on the listener-bus thread
 * while queries run concurrently on the bench thread; TrieMap +
 * per-group synchronized folding keeps the counters consistent.
 */
final class StageMetricsListener extends SparkListener {

  final class GroupAgg {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskTimeMs = 0L
    var gcTimeMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var memorySpillBytes = 0L
    var diskSpillBytes = 0L
    var peakExecutionMemory = 0L
  }

  private val groupOfStage = TrieMap.empty[Int, String]
  private val aggs = TrieMap.empty[String, GroupAgg]
  private val seenStages = TrieMap.empty[Int, Unit]
  private val registered = TrieMap.empty[String, Unit]
  @volatile private var fallbackGroup: String = "_unattributed"

  /** Declare the query the driver is about to run; jobs whose group
    * property is not a registered name (streaming run-id UUIDs) fold
    * into the latest registration.
    */
  def registerGroup(name: String): Unit = {
    registered.put(name, ())
    fallbackGroup = name
  }

  private def agg(group: String): GroupAgg =
    aggs.getOrElseUpdate(group, new GroupAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val group =
      if (registered.isEmpty) prop.getOrElse("_unattributed")
      else prop.filter(registered.contains).getOrElse(fallbackGroup)
    e.stageIds.foreach(id => groupOfStage.put(id, group))
    val a = agg(group)
    a.synchronized { a.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    // A stage can complete more than once (retries re-submit); count
    // distinct stage ids so `stages` reads as plan width, not retries.
    if (seenStages.putIfAbsent(id, ()).isEmpty) {
      val a = agg(groupOfStage.getOrElse(id, "_unattributed"))
      a.synchronized { a.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(groupOfStage.getOrElse(e.stageId, "_unattributed"))
      a.synchronized {
        a.tasks += 1
        a.taskTimeMs += m.executorRunTime
        a.gcTimeMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.memorySpillBytes += m.memoryBytesSpilled
        a.diskSpillBytes += m.diskBytesSpilled
        a.peakExecutionMemory = math.max(a.peakExecutionMemory, m.peakExecutionMemory)
      }
    }
  }

  /** Stable snapshot of all group aggregates (group -> agg). */
  def snapshot(): Map[String, GroupAgg] = aggs.readOnlySnapshot().toMap

  /** One JSON object per group, keys sorted, suitable for a report file. */
  def toJson: String = {
    val entries = snapshot().toSeq.sortBy(_._1).map { case (g, a) =>
      val body = a.synchronized {
        s""""jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
          s""""task_time_ms":${a.taskTimeMs},"gc_time_ms":${a.gcTimeMs},""" +
          s""""input_bytes":${a.inputBytes},""" +
          s""""input_records":${a.inputRecords},""" +
          s""""shuffle_read_bytes":${a.shuffleReadBytes},""" +
          s""""shuffle_write_bytes":${a.shuffleWriteBytes},""" +
          s""""shuffle_write_records":${a.shuffleWriteRecords},""" +
          s""""memory_spill_bytes":${a.memorySpillBytes},""" +
          s""""disk_spill_bytes":${a.diskSpillBytes},""" +
          s""""peak_execution_memory":${a.peakExecutionMemory}"""
      }
      JsonConfig.quote(g) + ":{" + body + "}"
    }
    entries.mkString("{", ",", "}")
  }
}
