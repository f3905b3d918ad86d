package graft.queries

import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** Streaming queries registered as CORRECTNESS rows (SURVEY §2 I):
  * the windowed aggregation runs as a REAL Structured Streaming query
  * — file source → AvailableNow trigger → memory sink — and its sink
  * contents are the query result, oracle-checked against the batch
  * twin's SQL (D5). Streaming is thereby gated by the DuckDB hash
  * compare, not only by MemoryStream ScalaTests.
  */
object StreamQueries {

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.util.Fs.deleteRecursively(p)

  /** Write `df` as ONE parquet part file and hoist it to each
    * (dest, mtime): the file streaming source lists PLAIN files (a
    * Spark parquet "file" is a directory, which it would skip), and
    * mtime order is its delivery order.
    */
  private def stageSinglePart(
      df: org.apache.spark.sql.DataFrame,
      dests: Seq[(java.nio.file.Path, Long)]): Unit = {
    val scratch = Files.createTempDirectory("graft_stage_part_")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(scratch.resolve("out").toString)
      val listing = Files.list(scratch.resolve("out"))
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally listing.close()
      dests.foreach { case (dest, mtime) =>
        Files.copy(part, dest)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
    } finally deleteRecursively(scratch)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily
    * lowered for a streaming query. Stateful streaming fans out one
    * state-store instance per shuffle partition PER MICRO-BATCH
    * (each committing a checkpoint delta file); at local scale that
    * fixed fan-out dwarfs the data. The partition count is pinned
    * into the checkpoint at first start, so it is a per-query
    * sizing decision — a production deployment sizes it to state
    * volume (keys/partition), exactly as done here.
    */
  private def withStreamingShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    // Tuning override for experiments (StreamTune); absent in
    // normal runs.
    val eff = sys.props.get("graft.stream.partitions").map(_.toInt).getOrElse(n)
    val keys = Map(
      "spark.sql.shuffle.partitions" -> eff.toString,
      // AvailableNow appends a trailing no-data micro-batch by
      // default; in these queries it neither emits nor evicts (the
      // sentinel batches below do the flushing), so it's a pure
      // state-store/checkpoint round-trip — skip it.
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val prev = keys.keys.map(k => k -> spark.conf.getOption(k)).toMap
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Checkpoint on the fastest scratch volume available: the state
    * store commits one delta file per partition per micro-batch, so
    * checkpoint latency is on the critical path of every batch. A
    * memory-backed mount (when present) takes the fsync cost out of
    * these bounded correctness/bench runs; a production deployment
    * points this at its durable store instead — the knob is the
    * same one (`checkpointLocation`).
    */
  private def scratchCheckpointDir(): java.nio.file.Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      Files.createTempDirectory(shm, "graft_ckpt_")
    else Files.createTempDirectory("graft_ckpt_")
  }

  /** The events schema, from the first data file's footer on the
    * driver (no Spark job).
    */
  private def eventsSchema(
      spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
    graft.Tables.parquet(spark, s"$dir/events.parquet").schema

  /** One staged copy of events.parquet, shared by every query whose
    * source layout is just "a directory holding the backlog once"
    * (windowed/sliding/top-k aggs, enrich join, stream-stream inner
    * join). The stream side stays fully per-query — fresh checkpoint
    * and sink every run — only the immutable INPUT staging is
    * shared, the same contract as [[lateStage]]/[[cdcStage]].
    */
  private def plainStage(spark: SparkSession, dir: String): java.nio.file.Path =
    graft.util.SessionStage.dir(spark, dir, "stream_events") { stage =>
      Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve("events.parquet"))
    }

  /** The doubled-delivery layout (the backlog staged twice, a_ then
    * b_) shared by the at-least-once scenarios (dedup, foreachBatch
    * upsert).
    */
  private def doubleStage(spark: SparkSession, dir: String): java.nio.file.Path =
    graft.util.SessionStage.dir(spark, dir, "stream_double") { stage =>
      Seq("a", "b").foreach { p =>
        Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve(s"${p}_events.parquet"))
      }
    }

  /** DIAGNOSTIC (not a registry row): the bare StreamingQuery
    * lifecycle — one stateless passthrough micro-batch over the
    * shared staged backlog into a memory sink, same tuning as every
    * registry stream (4 shuffle partitions, /dev/shm checkpoint,
    * AvailableNow, no-data batch off). What this measures is the
    * per-row IRREDUCIBLE floor the §8 streaming fixed-cost table
    * quotes: plan analysis + query start/stop + one source listing +
    * one offset/commit WAL round-trip + sink drain. Run via
    * `ScaleProbe query` is impossible (unregistered); use
    * `ScaleProbe streamfloor <sfDir> [runs]`.
    */
  private[graft] def stNoopFloor(spark: SparkSession, dir: String): DataFrame = {
    val stage = plainStage(spark, dir)
    val raw = spark.readStream.schema(eventsSchema(spark, dir)).parquet(stage.toString)
    val out = raw.select(col("event_id")).limit(1)
    val qName = "st_noop_floor_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = out.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    drainMemorySink(spark, qName)
  }

  /** Materialize the memory sink's rows and DROP its temp view —
    * these queries run repeatedly (bench min-of-two, verify), so
    * sink tables must not accumulate in the session for the rest of
    * its lifetime. The result rows are aggregate-sized.
    */
  private def drainMemorySink(spark: SparkSession, qName: String): DataFrame = {
    val sink = spark.table(qName)
    val rows = java.util.Arrays.asList(sink.collect(): _*)
    val out = spark.createDataFrame(rows, sink.schema)
    spark.catalog.dropTempView(qName)
    out
  }

  /** I1 end-to-end: tumbling 1-hour event-time windows over the
    * events table consumed INCREMENTALLY through the file streaming
    * source. AvailableNow processes the backlog in bounded batches
    * then terminates — the same code path a live `readStream` takes,
    * which is what makes this a faithful streaming correctness row.
    */
  def stWindowedAgg(spark: SparkSession, dir: String): DataFrame = {
    // File streaming sources list a DIRECTORY; the testdata tables
    // are single parquet files — stage a copy (session-shared
    // immutable fixture; at production scale the source would
    // already be a directory of part files).
    val stage = plainStage(spark, dir)
    val raw = spark.readStream.schema(eventsSchema(spark, dir)).parquet(stage.toString)
    // Same ts normalization Tables.events applies on the batch side
    // (schema-dispatched: nano-long or TIMESTAMP_NTZ → timestamp).
    val events = graft.Tables.normalizeTs(raw)
    val out = EventStream.windowedAgg(events, "1 hour", "1 hour")
    // Complete mode: emit every window, including those still inside
    // the watermark — matching the batch twin exactly. (Append mode
    // would withhold the trailing windows; the append/eviction
    // behavior is covered by the MemoryStream ScalaTests.)
    val qName = "st_windowed_agg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = out.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    drainMemorySink(spark, qName) // stage is session-cached, not deleted here
  }

  /** Oracle: identical to the batch twin D5 (q_events_window). */
  val stWindowedAggSql: String = Analytic.qEventsWindowSql

  /** I17 end-to-end: SLIDING window aggregation (2 h length, 1 h
    * slide) through the file streaming source — each event lands in
    * two overlapping windows, the view a tumbling bucket can't give
    * (a burst on a bucket boundary splits across two tumbling
    * buckets but stays intact in some sliding window). Complete
    * mode + AvailableNow, the I1 drain shape.
    */
  def stSlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val stage = plainStage(spark, dir)
    val raw = spark.readStream.schema(eventsSchema(spark, dir)).parquet(stage.toString)
    val events = graft.Tables.normalizeTs(raw)
    val out = EventStream.slidingAgg(events, "2 hours", "1 hour", "1 hour")
    val qName = "st_sliding_window_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = out.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    drainMemorySink(spark, qName) // stage is session-cached, not deleted here
  }

  /** Oracle: each event contributes to the two hourly-aligned
    * 2-hour windows that contain it (window start ∈ {bucket(ts),
    * bucket(ts) − 1 h}) — the closed-form sliding-window expansion.
    */
  val stSlidingWindowSql: String =
    """SELECT ws AS window_start, event_type,
      |  count(*) AS n_events, round(sum(value), 4) + 0 AS sum_value
      |FROM (
      |  SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
      |                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS ws,
      |    event_type, value
      |  FROM events) x
      |GROUP BY 1, 2""".stripMargin

  /** I2 end-to-end: gap-based sessionization via `session_window`
    * through the file streaming source. Session windows only support
    * append/update output, and append only emits sessions the
    * WATERMARK has passed — so the stage directory gets sentinel
    * files holding one far-future event each (user_id −1, excluded
    * from the result): batch 1 processes the real data plus sentinel
    * 1 (advancing max event time to 2200), and batch 2 (sentinel 2)
    * runs its eviction pass under that watermark, flushing every
    * real session in exactly two stateful micro-batches. This is how
    * a production stream drains — event time, not wall clock, closes
    * sessions.
    */
  def stSessionAgg(spark: SparkSession, dir: String): DataFrame = {
    // Footer-only read: the schema, not the data.
    val schema = eventsSchema(spark, dir)
    // Staged once per (session, dir) (immutable fixture: backlog copy +
    // guard scan + sentinel write) — the stream below re-runs fully
    // (fresh checkpoint + sink) on every invocation.
    val stage = graft.util.SessionStage.dir(spark, dir, "stream_sessions") { stage =>
      Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve("a_events.parquet"))
      val baseTime = Files.getLastModifiedTime(stage.resolve("a_events.parquet")).toMillis
      // Two sentinel files (user −1, fixed far-future ts — 2200-01-01,
      // beyond any event the generator emits, so no data scan needed to
      // place it). Micro-batch 1 (events + sentinel 1, via
      // maxFilesPerTrigger=2) advances max event time to 2200; batch 2
      // (sentinel 2 — identical bytes, later mtime) then runs its
      // eviction pass under that advanced watermark, flushing every
      // real session. The sentinels' own session stays in state (never
      // emitted) — it is filtered out below anyway. ONE driver-built
      // single-row write job; its part file is staged twice.
      val farFutureUs = 7258118400000000L // 2200-01-01T00:00Z, epoch micros
      // Guard the constant: the sentinel only flushes sessions if it is
      // BEYOND every real event. One column-pruned scan of the ts
      // column — cheap, and it fails FAST instead of silently
      // withholding sessions if the data ever reaches the sentinel era.
      val tsType = schema("ts").dataType
      val rawEvents = spark.read.parquet(s"$dir/events.parquet")
      val maxTsRow = rawEvents
        .agg(max(graft.Tables.tsMicrosExpr(tsType, col("ts")))).head()
      // Empty source: any sentinel is trivially beyond the (absent)
      // data; the stream then emits no real sessions — correct day-one
      // behavior rather than a null-unboxing crash.
      val maxTsUs = if (maxTsRow.isNullAt(0)) Long.MinValue else maxTsRow.getLong(0)
      require(maxTsUs < farFutureUs - 2L * 3600 * 1000 * 1000,
        s"stSessionAgg sentinel (2200-01-01) is not beyond the data (max ts us $maxTsUs); " +
          "sessions would be silently withheld")
      // The sentinel row is written through the SOURCE schema, so its
      // ts literal must carry the file's physical type.
      val sentinelTs: Any = tsType match {
        case org.apache.spark.sql.types.LongType => farFutureUs * 1000L
        case org.apache.spark.sql.types.TimestampNTZType =>
          java.time.LocalDateTime.ofEpochSecond(farFutureUs / 1000000L, 0, java.time.ZoneOffset.UTC)
        case org.apache.spark.sql.types.TimestampType =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(farFutureUs / 1000000L))
        case other => throw new IllegalArgumentException(
          s"stSessionAgg sentinel: unsupported ts type $other")
    }
    val sentinelRow = org.apache.spark.sql.Row(schema.fields.map { f =>
      f.name match {
        case "ts"      => sentinelTs
        case "user_id" => -1L
        case _ => f.dataType match {
          case org.apache.spark.sql.types.LongType    => -1L
          case org.apache.spark.sql.types.DoubleType  => 0.0
          case org.apache.spark.sql.types.IntegerType => -1
          case org.apache.spark.sql.types.StringType  => "sentinel"
          case other => throw new IllegalArgumentException(
            s"stSessionAgg sentinel: unsupported events field ${f.name}: $other")
        }
      }
    }.toIndexedSeq: _*)
    // One driver-built single-row write; its part file is staged
    // twice with strictly increasing mtimes so the source orders the
    // sentinels last.
    stageSinglePart(
      spark.createDataFrame(java.util.Collections.singletonList(sentinelRow), schema),
      Seq(1, 2).map(i =>
        stage.resolve(s"z_sentinel_$i.parquet") -> (baseTime + i * 60000L)))
    }

    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(stage.toString)
    val events = graft.Tables.normalizeTs(raw)
    val out = EventStream.sessionWindows(events, "30 minutes", "1 hour")
    val qName = "st_session_agg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = out.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    // stage is session-cached, not deleted here
    drainMemorySink(spark, qName)
      .filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"), col("session_value"))
  }

  /** I7 end-to-end: stream-static broadcast enrichment — the most
    * common production streaming shape: an unbounded fact stream
    * joined to a bounded dimension table (customer) that is loaded
    * as a plain batch frame and BROADCAST into every micro-batch,
    * then aggregated per segment in complete mode. No watermark: the
    * join is stateless (dimension side is static), so state is only
    * the segment aggregate. Oracle = the batch twin D12 SQL.
    */
  def stEnrichJoin(spark: SparkSession, dir: String): DataFrame = {
    val stage = plainStage(spark, dir)
    val raw = spark.readStream.schema(eventsSchema(spark, dir)).parquet(stage.toString)
    val customer = spark.read.parquet(s"$dir/customer.parquet")
    val out = raw
      .join(broadcast(customer), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
    val qName = "st_enrich_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = out.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    drainMemorySink(spark, qName) // stage is session-cached, not deleted here
  }

  /** Oracle: identical to the batch twin D12 (q_enrich_join). */
  val stEnrichJoinSql: String = Analytic2.qEnrichJoinSql

  /** I8 end-to-end: watermarked STREAM-STREAM inner join — the
    * funnel/attribution shape (click followed by an error within an
    * hour, same user). Both sides are unbounded streams, so each must
    * buffer rows in the state store until the other side can no
    * longer produce a match; the two watermarks PLUS the event-time
    * range condition are what let Spark compute that horizon and
    * evict — without them, join state grows without bound. Inner
    * join emits in append mode as soon as a match lands. The raw
    * pair stream is aggregated per user on the (bounded) sink table;
    * oracle = the same self-join in batch SQL.
    */
  def stStreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val stage = plainStage(spark, dir)
    val schema = eventsSchema(spark, dir)
    // Two independent file-source streams over the same backlog —
    // the production analogue is two topics (clicks, errors).
    def side(eventType: String, prefix: String) =
      spark.readStream.schema(schema).parquet(stage.toString)
        .transform(graft.Tables.normalizeTs(_))
        .filter(col("event_type") === eventType)
        .select(
          col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_id"),
          col("ts").as(s"${prefix}_ts"),
          col("value").as(s"${prefix}_value"))
        .withWatermark(s"${prefix}_ts", "1 hour")
    val clicks = side("click", "c")
    val errors = side("error", "e")
    val pairs = clicks.join(
      errors,
      expr("c_user = e_user AND e_ts >= c_ts AND e_ts <= c_ts + interval 1 hour"))
    val qName = "st_ss_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = pairs.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    val agg = spark.table(qName)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("e_value")), 4).as("err_value"))
    val rows = java.util.Arrays.asList(agg.collect(): _*)
    val out = spark.createDataFrame(rows, agg.schema)
    spark.catalog.dropTempView(qName)
    // stage is session-cached, not deleted here
    out
  }

  /** I12: watermarked stream-stream LEFT OUTER join — the semantics
    * I8's inner join cannot express: clicks with NO error within the
    * hour must still emit (null-matched), which the engine can only
    * do once the watermark proves no matching error can still
    * arrive. Mechanics under test: two far-future SENTINEL files
    * (user −1, filtered from the result) are delivered as their own
    * micro-batches after the real backlog, so the event-time
    * watermark — computed from data through batch N−1 and applied in
    * batch N — advances past every real click's join window and
    * flushes the unmatched left state. Without the second sentinel
    * batch the unmatched rows would sit in state forever and the
    * result would silently equal the INNER join on the tail. The
    * oracle is the plain batch LEFT JOIN twin.
    */
  def stSsLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsSchema(spark, dir)
    val tsType = schema("ts").dataType
    // Staged once per (session, dir) (immutable fixture: backlog copy +
    // max-ts scan + two sentinel writes); the stream below re-runs
    // fully (fresh checkpoint + sink) per invocation.
    val stage = graft.util.SessionStage.dir(spark, dir, "stream_ss_lo") { stage =>
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val maxUs = raw.agg(max(graft.Tables.tsMicrosExpr(tsType, col("ts"))))
        .head().getLong(0)
      val dayUs = 86400000000L
      def sentinel(us: Long, idBase: Long) =
        Seq("click" -> idBase, "error" -> (idBase - 1)).map { case (et, id) =>
          spark.range(1).select(
            lit(id).as("event_id"),
            graft.Tables.tsBoundLit(tsType, us).as("ts"),
            lit(-1L).as("user_id"),
            lit(et).as("event_type"),
            lit(0.0).as("value"),
            lit("{}").as("props"))
        }.reduce(_ unionAll _)
      // Plain Files.copy stamps "now" as mtime, which would sort the
      // real backlog AFTER the sentinels in the source's mtime-ordered
      // delivery — the sentinels would advance the watermark first and
      // every real click would arrive late and be dropped. Pin all
      // three mtimes explicitly.
      val base = Files.getLastModifiedTime(Paths.get(s"$dir/events.parquet")).toMillis
      Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve("a_events.parquet"))
      Files.setLastModifiedTime(stage.resolve("a_events.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(base))
      stageSinglePart(sentinel(maxUs + 30 * dayUs, -1L),
        Seq(stage.resolve("y_sentinel1.parquet") -> (base + 30000L)))
      stageSinglePart(sentinel(maxUs + 60 * dayUs, -3L),
        Seq(stage.resolve("z_sentinel2.parquet") -> (base + 60000L)))
    }
    // r14 state-width pass (guide §2.3/§5): project to ONLY what the
    // join condition and the final aggregate read BEFORE the
    // watermark/state — the click side needs (user, ts), the error
    // side (user, id, ts). The r13 shape also carried c_id, c_value
    // and e_value through the state store and the sink for nothing.
    def side(eventType: String, prefix: String, withId: Boolean) = {
      val keep =
        Seq(col("user_id").as(s"${prefix}_user")) ++
          (if (withId) Seq(col("event_id").as(s"${prefix}_id")) else Nil) ++
          Seq(col("ts").as(s"${prefix}_ts"))
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.toString)
        .transform(graft.Tables.normalizeTs(_))
        .filter(col("event_type") === eventType)
        .select(keep: _*)
        .withWatermark(s"${prefix}_ts", "1 hour")
    }
    val pairs = side("click", "c", withId = false).join(
      side("error", "e", withId = true),
      expr("c_user = e_user AND e_ts >= c_ts AND e_ts <= c_ts + interval 1 hour"),
      "leftOuter")
    val qName = "st_ss_leftouter_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = pairs.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    val agg = spark.table(qName)
      .filter(col("c_user") >= 0)
      .groupBy(col("c_user").as("user_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("e_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("e_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
    val rows = java.util.Arrays.asList(agg.collect(): _*)
    val out = spark.createDataFrame(rows, agg.schema)
    spark.catalog.dropTempView(qName)
    // stage is session-cached, not deleted here
    out
  }

  /** Batch LEFT JOIN twin: every click row, matched or not. */
  val stSsLeftOuterSql: String =
    """SELECT c.user_id,
      |  count(*) AS n_rows,
      |  CAST(sum(CASE WHEN e.event_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  CAST(sum(CASE WHEN e.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id
      | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 1 HOUR
      |GROUP BY c.user_id""".stripMargin

  /** I13: UPDATE-mode streaming aggregation — the third output-mode
    * semantics beside append (I4's watermark-gated windows) and the
    * foreachBatch path (I9): an unwindowed running per-type count
    * whose state lives across micro-batches and re-emits each key's
    * new total whenever it changes. The backlog is delivered as
    * three interleaved micro-batches (the CDC stage's residue
    * slices), so every key updates in every batch and the memory
    * sink accumulates a SEQUENCE of totals per key; counts are
    * monotone, so the final state is max-per-key, which must equal
    * the plain batch aggregate.
    */
  def stUpdateAgg(spark: SparkSession, dir: String): DataFrame = {
    val stage = cdcStage(spark, dir)
    val stream = spark.readStream.schema(eventsSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
    val counts = graft.Tables.normalizeTs(stream)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val qName = "st_update_agg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = counts.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    val agg = spark.table(qName)
      .groupBy(col("event_type"))
      .agg(max(col("n_events")).as("n_events"))
    val rows = java.util.Arrays.asList(agg.collect(): _*)
    val out = spark.createDataFrame(rows, agg.schema)
    spark.catalog.dropTempView(qName)
    out
  }

  /** The final update per key is the plain batch count. */
  val stUpdateAggSql: String =
    """SELECT event_type, count(*) AS n_events
      |FROM events GROUP BY event_type""".stripMargin

  /** Batch self-join twin of the streaming click→error funnel. */
  val stStreamStreamJoinSql: String =
    """SELECT c.user_id,
      |  count(*) AS n_pairs,
      |  round(sum(e.value), 4) + 0 AS err_value
      |FROM events c JOIN events e
      |  ON c.user_id = e.user_id
      | AND c.event_type = 'click' AND e.event_type = 'error'
      | AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 1 HOUR
      |GROUP BY c.user_id""".stripMargin

  /** I9 end-to-end: foreachBatch → keyed-layer upsert — the
    * streaming WRITE path production pipelines actually run (micro-
    * batch → merge-by-key into the serving layer) rather than a
    * memory sink. The backlog is delivered TWICE (two copies of the
    * file, one micro-batch each via maxFilesPerTrigger=1); because
    * the sink merge is idempotent on the upsert key, redelivery
    * converges to exactly one row per event — exactly-once effects
    * from at-least-once delivery, the foreachBatch contract. The
    * registered result reads the FINAL layer back and aggregates,
    * so the oracle is the plain batch aggregate over the
    * single-copy table.
    */
  def stForeachBatchUpsert(spark: SparkSession, dir: String): DataFrame = {
    val stage = doubleStage(spark, dir)
    val service = Files.createTempDirectory("graft_stream_fb_svc_")
    val schema = eventsSchema(spark, dir)
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
    val slim = raw.select(col("event_id"), col("user_id"), col("value"))
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = slim.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.export.FeatureService.publish(
            batch.toDF(), service.toString, "events",
            graft.export.PublishMode.Auto, upsertKey = "event_id")
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    val agg = graft.export.FeatureService.readLayer(spark, service.toString, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
    val rows = java.util.Arrays.asList(agg.collect(): _*)
    val out = spark.createDataFrame(rows, agg.schema)
    // stage is session-cached, not deleted here
    deleteRecursively(service)
    out
  }

  /** Redelivered-but-idempotent: the layer holds one copy per key,
    * so the census equals the batch aggregate (same twin as I6).
    */
  val stForeachBatchUpsertSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  round(sum(value), 4) + 0 AS total_value
      |FROM events GROUP BY user_id""".stripMargin

  /** I4 end-to-end: streaming EXACT dedup via
    * `dropDuplicatesWithinWatermark` — exactly-once ingestion
    * semantics when the transport redelivers (the streaming twin of
    * E1). The stage directory holds the events file TWICE, so every
    * row is delivered twice; the stream keeps one copy per event_id.
    * Emission is immediate (append, not watermark-gated), so no
    * sentinel machinery is needed; the watermark bounds how long a
    * key's fingerprint stays in state — the knob that makes dedup
    * state finite on an unbounded stream. The per-user census is
    * aggregated on the sink table BEFORE collecting, and equals the
    * batch aggregate over the single-copy table iff dedup worked.
    */
  def stDedupStream(spark: SparkSession, dir: String): DataFrame = {
    val stage = doubleStage(spark, dir)
    val schema = eventsSchema(spark, dir)
    val raw = spark.readStream.schema(schema).parquet(stage.toString)
    val events = graft.Tables.normalizeTs(raw)
    // r13 (guide §2.3): project BEFORE the dedup — the state store
    // keys on event_id but buffered rows carry every column through
    // the exchange, and the census below reads only (user_id, value).
    // Dropping props/event_type here halves the dedup state and its
    // shuffle bytes; the kept-one-copy-per-key semantics and the
    // emitted aggregate are unchanged.
    val deduped = events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val qName = "st_dedup_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = deduped.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    val agg = spark.table(qName)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
    val rows = java.util.Arrays.asList(agg.collect(): _*)
    val out = spark.createDataFrame(rows, agg.schema)
    spark.catalog.dropTempView(qName)
    // stage is session-cached, not deleted here
    out
  }

  /** The deduplicated stream collapses to the plain batch aggregate
    * over the single-copy events table.
    */
  val stDedupStreamSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  round(sum(value), 4) + 0 AS total_value
      |FROM events GROUP BY user_id""".stripMargin

  /** I10 end-to-end: watermark LATE-DATA DROP — the event-time
    * correctness property the other rows don't exercise: what
    * happens when data arrives out of order ACROSS micro-batches.
    * The backlog is split at 2024-01-25: the fresh half is delivered
    * first (micro-batch 1, advancing the watermark to max−1h), the
    * stale half LAST. In append mode the stragglers aimed at windows
    * the watermark already closed are DROPPED, and stragglers
    * landing in still-open windows are absorbed but never emitted
    * (the watermark never advances again). The sink therefore holds
    * exactly the closed windows populated by fresh rows only — which
    * is what the oracle states in batch SQL. At 100 TB this drop
    * rule is what bounds reprocessing: state never waits for
    * arbitrarily-old data.
    *
    * A middle micro-batch carries one copy of the max-ts row:
    * since SPARK-24634, late-event filtering uses the PREVIOUS
    * batch's watermark (eviction uses the current one), so the
    * fresh batch's watermark only gates late events one commit
    * later. The mid row lands in the open final-hour window (never
    * emitted, max unchanged), so it affects nothing — it exists to
    * commit the watermark before the stragglers arrive, exactly the
    * cadence of a live stream where data keeps flowing.
    */
  /** Stage the split backlog once per (session, dir): the three
    * files are immutable inputs (the scenario's "topic"), so
    * repeated runs — bench min-of-two, verify — re-run the STREAM
    * (fresh checkpoint + sink each time) without re-running the
    * two filter-write jobs that build the fixture.
    */
  private def lateStage(spark: SparkSession, dir: String): java.nio.file.Path =
    graft.util.SessionStage.dir(spark, dir, "stream_late") { stage =>
      val splitUs = 1706140800000000L // 2024-01-25T00:00:00Z
      val raw = spark.read.parquet(s"$dir/events.parquet")
      // Bound literal in the RAW column's own physical type: keeps
      // the two stage filters parquet-prunable (column vs literal)
      // AND the staged copies in the file's encoding so the
      // streaming reader's schema matches byte-for-byte.
      val splitBound = graft.Tables.tsBoundLit(raw.schema("ts").dataType, splitUs)
      // Fail fast if the split ever stops bisecting the data — an
      // empty side would silently degrade the scenario to in-order
      // delivery.
      val cnts = raw.agg(
        coalesce(sum(when(col("ts") >= splitBound, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("ts") < splitBound, 1L).otherwise(0L)), lit(0L)))
        .head()
      val (nFresh, nLate) = (cnts.getLong(0), cnts.getLong(1))
      // A one-sided split on REAL data silently degrades the scenario
      // to in-order delivery — fail fast. A fully empty source is
      // fine: three empty batches, empty windows, empty result.
      require((nFresh == 0L && nLate == 0L) || (nFresh > 0L && nLate > 0L),
        s"stLateDrop split at $splitUs leaves an empty side (fresh=$nFresh late=$nLate)")
      val base = Files.getLastModifiedTime(Paths.get(s"$dir/events.parquet")).toMillis
      stageSinglePart(raw.filter(col("ts") >= splitBound),
        Seq(stage.resolve("a_fresh.parquet") -> base))
      // The mid commit is LOAD-BEARING, not cadence decoration: a
      // round-10 experiment removed it and the row went red at all
      // three scales (late rows reached window state and re-emitted
      // closed windows) — batch N's late-event filter uses the
      // watermark from batch N-1's START, so the fresh batch's
      // watermark gates stragglers only TWO commits later. Keep the
      // 3-batch choreography; the streaming floor table is the
      // documented cost.
      stageSinglePart(raw.orderBy(col("ts").desc).limit(1),
        Seq(stage.resolve("m_mid.parquet") -> (base + 30000L)))
      stageSinglePart(raw.filter(col("ts") < splitBound),
        Seq(stage.resolve("z_late.parquet") -> (base + 60000L)))
    }

  def stLateDrop(spark: SparkSession, dir: String): DataFrame = {
    val stage = lateStage(spark, dir)
    val stream = spark.readStream.schema(eventsSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
    val events = graft.Tables.normalizeTs(stream)
    val out = EventStream.windowedAgg(events, "1 hour", "1 hour")
    val qName = "st_late_drop_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = out.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    // stage dir is cached per (session, dir) — not deleted here.
    drainMemorySink(spark, qName)
      .select(unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Closed (watermark-passed) windows over the FRESH half only:
    * stragglers to closed windows are dropped, stragglers to open
    * windows are never emitted.
    */
  val stLateDropSql: String =
    """WITH a AS (
      |  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
      |  WHERE epoch_us(ts) >= 1706140800000000),
      |wm AS (SELECT max(ts_us) - 3600000000 AS w FROM a),
      |g AS (
      |  SELECT (ts_us // 3600000000) * 3600000000 AS window_start_us,
      |    event_type, count(*) AS n_events, round(sum(value), 4) + 0 AS sum_value
      |  FROM a GROUP BY 1, 2)
      |SELECT * FROM g
      |WHERE window_start_us + 3600000000 <= (SELECT w FROM wm)""".stripMargin

  /** Lag-based gap islands in integer microseconds — strictly
    * `> gap` starts a new session: `session_window` still merges an
    * event landing exactly on the previous session's end.
    */
  /** Session-cached CDC stage: the events table time-sliced into
    * three single-part files (by event_id residue — every slice
    * spans the full time range, so batches genuinely interleave
    * out of order), delivered in mtime order one file per
    * micro-batch.
    */
  private def cdcStage(spark: SparkSession, dir: String): java.nio.file.Path =
    graft.util.SessionStage.dir(spark, dir, "stream_cdc") { stage =>
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val base = Files.getLastModifiedTime(Paths.get(s"$dir/events.parquet")).toMillis
      (0 until 3).foreach { i =>
        stageSinglePart(raw.filter(pmod(col("event_id"), lit(3)) === i),
          Seq(stage.resolve(s"${('a' + i).toChar}_slice.parquet") -> (base + i * 30000L)))
      }
    }

  /** I11: streaming CDC apply — a change stream (upserts from
    * ordinary events, DELETE tombstones from `error` events) applied
    * to a keyed serving table through foreachBatch. Each micro-batch
    * COMPACTS itself to one winner row per key (`max_by` over the
    * (ts, event_id) version — map-side combine, no window sort) and
    * appends that delta; the serving read merges deltas
    * last-writer-wins and drops tombstones. Because the merge order
    * is the VERSION, not arrival order, the sink converges to the
    * same state under out-of-order and redelivered batches — the
    * log-structured (delta + compaction) shape CDC sinks use, and
    * the reason the batch oracle (latest row per key, tombstones
    * excluded) matches exactly.
    */
  def stCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val stage = cdcStage(spark, dir)
    val deltas = Files.createTempDirectory("graft_stream_cdc_delta_")
    val raw = spark.readStream.schema(eventsSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
    val cdc = graft.Tables.normalizeTs(raw).select(
      col("user_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("value"), col("ts"), col("event_id"))
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = cdc.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch
            .groupBy(col("user_id"))
            .agg(max_by(
              struct(col("op"), col("value"), col("ts"), col("event_id")),
              struct(col("ts"), col("event_id"))).as("w"))
            .select(col("user_id"), col("w.op").as("op"), col("w.value").as("value"),
              col("w.ts").as("ts"), col("w.event_id").as("event_id"))
            .write.mode("append").parquet(deltas.toString)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    val served = spark.read.parquet(deltas.toString)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("op"), col("value")),
        struct(col("ts"), col("event_id"))).as("w"))
      .filter(col("w.op") === "U")
      .select(col("user_id"), round(col("w.value"), 4).as("last_value"))
    val rows = java.util.Arrays.asList(served.collect(): _*)
    val out = spark.createDataFrame(rows, served.schema)
    deleteRecursively(deltas)
    out
  }

  /** Latest change per key wins; keys whose latest change is a
    * delete are absent.
    */
  val stCdcApplySql: String =
    """WITH c AS (
      |  SELECT user_id,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    value, ts, event_id
      |  FROM events),
      |r AS (
      |  SELECT user_id, op, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM c)
      |SELECT user_id, round(value, 4) + 0 AS last_value
      |FROM r WHERE rn = 1 AND op = 'U'""".stripMargin

  val stSessionAggSql: String =
    """WITH ordered AS (
      |  SELECT user_id, ts, event_id, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |flags AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN prev_ts IS NULL
      |           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM ordered),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flags)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) + 1800000000 AS session_end_us,
      |  count(*) AS n_events,
      |  round(sum(value), 4) + 0 AS session_value
      |FROM sess GROUP BY user_id, sid""".stripMargin

  /** I14 end-to-end: streaming top-k — the hourly windowed count
    * per event type runs as a REAL streaming query (file source →
    * complete mode → memory sink, the I4 path), then the top-3 rank
    * per window runs as a batch window over the DRAINED sink, whose
    * size is windows×types-bounded at any corpus scale. This is the
    * production shape for streaming top-k dashboards: the stream
    * maintains the (window, key) counts incrementally; ranking
    * happens on the bounded serving read, never inside the stateful
    * stage (a rank there would re-sort every key on every
    * micro-batch and cannot be maintained incrementally in complete
    * mode).
    */
  def stTopkWindowed(spark: SparkSession, dir: String): DataFrame = {
    val stage = plainStage(spark, dir)
    val raw = spark.readStream.schema(eventsSchema(spark, dir)).parquet(stage.toString)
    val events = graft.Tables.normalizeTs(raw)
    val counts = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
    val qName = "st_topk_windowed_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = counts.writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    val drained = drainMemorySink(spark, qName) // stage session-cached
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type"))
    drained
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= 3)
  }

  /** I15 end-to-end: checkpoint RESUME — the production property
    * that a restarted streaming job continues from its committed
    * offsets instead of reprocessing the backlog. Run 1 sees only
    * file A (even event_ids) and terminates; file B lands; run 2
    * starts a NEW query instance on the SAME checkpoint and must
    * process only B. The sink is a plain APPEND parquet write —
    * deliberately non-idempotent, so any reprocessing of A on
    * restart doubles its rows and the oracle compare goes red; the
    * exactly-once-effects story therefore rests on the offset log,
    * not on sink-side dedup (I9 proves the complementary
    * idempotent-sink contract).
    */
  def stCheckpointResume(spark: SparkSession, dir: String): DataFrame = {
    // The two halves of the split backlog are immutable fixtures —
    // build their part files ONCE per (session, dir) (two filter-write
    // jobs); each RUN still stages them into a fresh source dir in
    // two steps (A, run, B, run) so the restart semantics under test
    // are untouched, but re-runs pay two file copies, not two jobs.
    val parts = graft.util.SessionStage.dir(spark, dir, "stream_resume_parts") { hold =>
      val t = graft.Tables(spark, dir)
      val slim = t.events.select(col("event_id"), col("event_type"), col("value"))
      val now = System.currentTimeMillis()
      stageSinglePart(slim.filter(pmod(col("event_id"), lit(2)) === 0),
        Seq((hold.resolve("a_events.parquet"), now)))
      stageSinglePart(slim.filter(pmod(col("event_id"), lit(2)) === 1),
        Seq((hold.resolve("b_events.parquet"), now)))
    }
    val stage = Files.createTempDirectory("graft_stream_resume_")
    val sinkDir = Files.createTempDirectory("graft_stream_resume_sink_")
    val sink = sinkDir.resolve("out").toString
    val ckpt = scratchCheckpointDir()
    val base = System.currentTimeMillis() - 120000L
    Files.copy(parts.resolve("a_events.parquet"), stage.resolve("a_events.parquet"))
    Files.setLastModifiedTime(stage.resolve("a_events.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(base))
    def runOnce(): Unit = withStreamingShufflePartitions(spark, 4) {
      val raw = spark.readStream
        .schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .parquet(stage.toString)
      val q = raw.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("append").parquet(sink)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // backlog = A only; offsets for A commit to the checkpoint
    Files.copy(parts.resolve("b_events.parquet"), stage.resolve("b_events.parquet"))
    Files.setLastModifiedTime(stage.resolve("b_events.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(base + 60000L))
    runOnce() // restart: must pick up ONLY B
    val agg = spark.read.parquet(sink)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    val rows = java.util.Arrays.asList(agg.collect(): _*)
    val out = spark.createDataFrame(rows, agg.schema)
    deleteRecursively(ckpt)
    deleteRecursively(stage)
    deleteRecursively(sinkDir)
    out
  }

  /** Every event exactly once across the two runs ⇒ the plain batch
    * aggregate (the A16/A17 twin).
    */
  val stCheckpointResumeSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(sum(value), 4) + 0 AS total_value
      |FROM events GROUP BY event_type""".stripMargin

  val stTopkWindowedSql: String =
    """WITH c AS (
      |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
      |         event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT window_start, event_type, n, rank FROM (
      |  SELECT window_start, event_type, n,
      |    row_number() OVER (PARTITION BY window_start
      |                       ORDER BY n DESC, event_type) AS rank
      |  FROM c) x
      |WHERE rank <= 3""".stripMargin

  /** I16 end-to-end: ARBITRARY-STATE streaming — per-user anomaly
    * flags whose baseline (exact running moments over the ×10⁶
    * fixed-point value) is carried across micro-batches by
    * `flatMapGroupsWithState`
    * ([[graft.streaming.EventStream.anomalyZscore]]) — the
    * custom-state capability the session/window/dedup/join rows
    * don't exercise, the streaming twin of D19's batch z-score.
    * The backlog is split at 2024-01-25 and delivered OLD half then
    * NEW half (one micro-batch each), so batch 2's flags are judged
    * against state BUILT by batch 1: a state reset, a lost Σx², or
    * an order-dependent fold would all hash-diverge from the
    * oracle's full-history window twin. Integer math end-to-end
    * makes that twin exact: DuckDB replays the identical
    * (n·x−Σx)² > 9·(n·Σx²−(Σx)²) comparison over a
    * rows-between-preceding window.
    */
  def stAnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Staged once per (session, dir) (two filter-write jobs building the
    // old/new split — immutable fixture); fresh stream per run.
    val stage = graft.util.SessionStage.dir(spark, dir, "stream_anom") { stage =>
      val raw0 = spark.read.parquet(s"$dir/events.parquet")
      val splitUs = 1706140800000000L // 2024-01-25T00:00:00Z
      val splitBound = graft.Tables.tsBoundLit(raw0.schema("ts").dataType, splitUs)
      val base = Files.getLastModifiedTime(Paths.get(s"$dir/events.parquet")).toMillis
      stageSinglePart(raw0.filter(col("ts") < splitBound),
        Seq(stage.resolve("a_old.parquet") -> base))
      stageSinglePart(raw0.filter(col("ts") >= splitBound),
        Seq(stage.resolve("z_new.parquet") -> (base + 30000L)))
    }
    val stream = spark.readStream.schema(eventsSchema(spark, dir))
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
    val ev = graft.Tables.normalizeTs(stream)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        expr("CAST(round(value * 1000000.0, 0) AS BIGINT)").as("fx"))
      .as[graft.streaming.AnomEvent]
    val flags = graft.streaming.EventStream.anomalyZscore(ev)
    val qName = "st_anomaly_zscore_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = scratchCheckpointDir()
    withStreamingShufflePartitions(spark, 4) {
      val query = flags.toDF().writeStream
        .format("memory")
        .queryName(qName)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    deleteRecursively(ckpt)
    drainMemorySink(spark, qName) // stage is session-cached
  }

  /** The stateful stream's flag set equals the batch full-history
    * window replay (exact integers ⇒ hash-equal).
    */
  val stAnomalyZscoreSql: String =
    """WITH x AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS fx
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_id, fx,
      |    count(*) OVER pre AS n,
      |    sum(fx) OVER pre AS sx,
      |    sum(CAST(fx AS HUGEINT) * fx) OVER pre AS sx2
      |  FROM x
      |  WINDOW pre AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id, n AS n_prior, fx
      |FROM w
      |WHERE n >= 5
      |  AND CAST(n * fx - sx AS HUGEINT) * CAST(n * fx - sx AS HUGEINT)
      |      > 9 * (n * sx2 - CAST(sx AS HUGEINT) * sx)""".stripMargin
}
