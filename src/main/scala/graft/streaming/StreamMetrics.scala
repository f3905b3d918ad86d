package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** One row per (query, micro-batch) — top-level so the DataFrame
  * encoder resolves without an outer-instance scope.
  */
final case class BatchProgress(
    queryName: String,
    batchId: Long,
    inputRows: Long,
    triggerMs: Long,
    stateRows: Long)

/** Streaming observability: per-micro-batch progress captured from
  * the engine's own `StreamingQueryListener` feed and served back as
  * a DataFrame report — the streaming twin of the batch stage-
  * metrics listener behind BENCH_STAGES (reference: the run-logging
  * layer's stage timers, utils.py:212-270, re-expressed for
  * Structured Streaming's progress events).
  *
  * What a pipeline operator reads off it: per-batch input rows
  * (backlog draining?), trigger latency (keeping up?), and state
  * rows (is the watermark actually evicting?). All numbers come
  * from `QueryProgressEvent` — no instrumentation inside the query
  * plan, zero overhead on the hot path.
  */
final class StreamMetrics extends StreamingQueryListener {

  private val buf = ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val trigger = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue()).getOrElse(0L)
    val state =
      if (p.stateOperators == null || p.stateOperators.isEmpty) 0L
      else p.stateOperators.map(_.numRowsTotal).sum
    buf.synchronized {
      buf += BatchProgress(
        Option(p.name).getOrElse(p.id.toString),
        p.batchId, p.numInputRows, trigger, state)
    }
  }

  /** Snapshot of everything captured so far. */
  def snapshot(): Seq[BatchProgress] = buf.synchronized(buf.toVector)

  /** The captured progress as a DataFrame (report-sized). */
  def report(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshot().toDF()
  }
}

object StreamMetrics {

  /** Run `body` with a fresh listener registered; returns (body
    * result, the listener) with the listener REMOVED again — no
    * session-lifetime leakage into later queries (the memory-sink
    * drain lesson). Listener events are delivered asynchronously;
    * callers that need the final batch's row wait for the query to
    * terminate, then drain the bus (`GraftBridge.drainListenerBus`)
    * before reading, as `st_progress_total` does.
    */
  def withMetrics[A](spark: SparkSession)(body: StreamMetrics => A): (A, StreamMetrics) = {
    val m = new StreamMetrics
    spark.streams.addListener(m)
    try {
      val a = body(m)
      (a, m)
    } finally spark.streams.removeListener(m)
  }
}
