package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class EventStreamSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val batch = Seq(
    EventRow(ts(0), 1L, "click", 10.0),
    EventRow(ts(5), 1L, "click", 20.0),
    EventRow(ts(59), 2L, "view", 5.0),
    EventRow(ts(58), 1L, "click", 1.5))

  test("windowedAgg over a stream matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = EventStream.windowedAgg(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batched = EventStream.windowedAgg(batch.toDF(), "1 hour", "10 minutes")
        .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batched)
      assert(streamed == Set(("click", 3L, 31.5), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionWindows merges events within gap, splits across it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = EventStream.sessionWindows(mem.toDF(), "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      val sessions = spark.table("sess_out")
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4)))
      // user 1: events at :00 and :05 merge; :58 is a separate session
      assert(sessions.count(_._1 == 1L) == 2)
      assert(sessions.contains((1L, 2L, 30.0)))
      assert(sessions.contains((1L, 1L, 1.5)))
      assert(sessions.contains((2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("runningTotals keeps per-user state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = EventStream.runningTotals(mem.toDS())
      .writeStream.format("memory").queryName("totals_out")
      .outputMode("update").start()
    try {
      mem.addData(EventRow(ts(0), 1L, "click", 10.0))
      q.processAllAvailable()
      mem.addData(EventRow(ts(5), 1L, "click", 2.5), EventRow(ts(6), 2L, "view", 1.0))
      q.processAllAvailable()
      val last = spark.table("totals_out")
        .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(last == Set((1L, 2L, 12.5), (2L, 1L, 1.0)))
    } finally q.stop()
  }

  test("stream sink appends into a FeatureService layer dir") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[EventRow]
    val q = mem.toDF()
      .writeStream.format("parquet")
      .option("checkpointLocation", s"$dir/ckpt")
      .option("path", s"$dir/layer=stream")
      .outputMode("append").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/layer=stream").count() == 4)
    } finally q.stop()
  }

  test("st_dedup_stream collapses double delivery to the batch aggregate") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.StreamQueries.stDedupStream(tables)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = tables.events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == want)
  }
}
