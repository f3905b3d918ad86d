package graft.`export`

import com.fasterxml.jackson.databind.JsonNode
import graft.config.JsonConfig
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Publish modes (reference: src/o2agol/domain/enums.py:10-16). */
object PublishMode extends Enumeration {
  /** create-or-replace based on existence (reference AUTO detect). */
  val Auto, Initial, Overwrite, Append = Value
}

/** Idempotent feature-service sink — the engine-side model of the
  * reference's AGOL publisher (reference:
  * src/o2agol/pipeline/publish.py — feature-layer create vs
  * truncate-and-append, upsert_key=id, chunked uploads). A service
  * is a directory of parquet layers plus a JSON descriptor; the
  * REST transport is out of scope, the dataflow semantics are not.
  */
object FeatureService {

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  def layerPath(servicePath: String, layer: String): String = s"$servicePath/layer=$layer"

  def layerExists(spark: SparkSession, servicePath: String, layer: String): Boolean =
    fs(spark, servicePath).exists(new HPath(layerPath(servicePath, layer)))

  /** Repair a layer left mid-swap by a crash (see the Auto upsert
    * swap order below). Idempotent; returns true if the layer is
    * live afterwards. States:
    *   - live present → drop leftover staging/backup;
    *   - staging present, live absent → the crash hit between the two
    *     renames; staging is a COMPLETE merged layer (it is fully
    *     written before the swap starts) → promote it;
    *   - only backup present → the crash hit after rename-aside but
    *     before promote AND staging vanished (shouldn't happen, but
    *     restore the backup rather than lose data).
    */
  def recoverLayer(spark: SparkSession, servicePath: String, layer: String): Boolean = {
    val f = fs(spark, servicePath)
    val live = new HPath(layerPath(servicePath, layer))
    val staging = new HPath(layerPath(servicePath, layer) + ".staging")
    val backup = new HPath(layerPath(servicePath, layer) + ".backup")
    if (f.exists(live)) {
      f.delete(staging, true)
      f.delete(backup, true)
      true
    } else if (f.exists(staging)) {
      // rename returns false (not throws) on several Hadoop FSs —
      // never drop the backup unless the promote actually happened.
      if (!f.rename(staging, live))
        throw new java.io.IOException(
          s"recoverLayer: failed to promote $staging to $live; backup left intact")
      f.delete(backup, true)
      true
    } else if (f.exists(backup)) {
      if (!f.rename(backup, live))
        throw new java.io.IOException(
          s"recoverLayer: failed to restore $backup to $live")
      true
    } else false
  }

  /** Publish one layer.
    *
    * - Initial: fail if the layer exists (reference INITIAL forces
    *   creation of a new feature layer).
    * - Overwrite: truncate-and-append — replace layer content.
    * - Append: add rows, no key reconciliation.
    * - Auto: create when missing; otherwise upsert by `upsertKey`
    *   (incoming rows replace same-key rows, others are kept) —
    *   the reference's smart-detect publish with upsert_key=id.
    */
  def publish(
      df: DataFrame,
      servicePath: String,
      layer: String,
      mode: PublishMode.Value,
      upsertKey: String = "id"
  ): Unit = try {
    val spark = df.sparkSession
    val path = layerPath(servicePath, layer)
    // Heal any half-finished swap from a previous crashed publish
    // before deciding create-vs-upsert.
    recoverLayer(spark, servicePath, layer)
    val exists = layerExists(spark, servicePath, layer)
    mode match {
      case PublishMode.Initial =>
        if (exists)
          throw new IllegalStateException(s"layer '$layer' already exists at $servicePath")
        df.write.mode("errorifexists").parquet(path)
      case PublishMode.Overwrite =>
        df.write.mode("overwrite").parquet(path)
      case PublishMode.Append =>
        df.write.mode("append").parquet(path)
      case PublishMode.Auto =>
        if (!exists) df.write.mode("errorifexists").parquet(path)
        else {
          // Upsert: keep existing rows whose key is absent from the
          // incoming batch, union the batch. At warehouse scale this
          // is the generic non-transactional fallback; a table format
          // with merge (or partition-scoped overwrite) replaces it.
          // Writing to a staging path means the source is read and
          // the result written in ONE pass.
          val existing = spark.read.parquet(path)
          val merged = existing
            .join(df.select(col(upsertKey)).distinct(), Seq(upsertKey), "left_anti")
            .unionByName(df, allowMissingColumns = true)
          merged.write.mode("overwrite").parquet(s"$path.staging")
          // CRASH-SAFE swap: the old layer is renamed ASIDE, never
          // deleted while it is the only copy. A crash at any point
          // leaves either the old layer live, or staging/backup dirs
          // that recoverLayer (run on the next publish, or manually)
          // promotes — data loss requires losing BOTH copies.
          // Hadoop rename/delete signal failure by RETURNING FALSE on
          // several filesystems — every step is checked, and the
          // backup is only dropped after a confirmed promote.
          val f = fs(spark, servicePath)
          val live = new HPath(path)
          val staging = new HPath(s"$path.staging")
          val backup = new HPath(s"$path.backup")
          if (f.exists(backup) && !f.delete(backup, true))
            throw new java.io.IOException(s"upsert: cannot clear stale backup $backup")
          if (!f.rename(live, backup))
            throw new java.io.IOException(s"upsert: cannot move $live aside; layer unchanged")
          if (!f.rename(staging, live))
            throw new java.io.IOException(
              s"upsert: promote failed; old layer preserved at $backup (recoverLayer restores it)")
          f.delete(backup, true)
        }
    }
  } catch {
    // One seam wraps every publish failure shape (layer-state,
    // swap/rename, write) in the typed taxonomy with the context
    // only this frame knows; inner exceptions ride as the cause
    // (reference errors.py PublishError).
    case e: graft.GraftError => throw e
    case scala.util.control.NonFatal(e) =>
      throw new graft.PublishError(
        s"publish failed: ${e.getMessage}",
        Map("service" -> servicePath, "layer" -> layer,
          "mode" -> mode.toString, "stage" -> "publish"), e)
  }

  def readLayer(spark: SparkSession, servicePath: String, layer: String): DataFrame =
    spark.read.parquet(layerPath(servicePath, layer))

  /** Publish a layer as a BUCKETED table: rows hash-partitioned into
    * `buckets` files by `bucketKey` and registered in the session
    * catalog. Two layers bucketed the same way join with ZERO
    * shuffle (bucket-local sort-merge) — the co-located-join path
    * for repeatedly-joined 100 TB layers.
    */
  def publishBucketed(
      df: DataFrame,
      servicePath: String,
      layer: String,
      tableName: String,
      bucketKey: String,
      buckets: Int
  ): Unit =
    df.write
      .mode("overwrite")
      .option("path", layerPath(servicePath, layer))
      .bucketBy(buckets, bucketKey)
      .sortBy(bucketKey)
      .format("parquet")
      .saveAsTable(tableName)

  /** Range-sorted parquet write: global range partitioning + within-
    * partition sort keeps each file's min/max stats tight, so
    * range-predicate scans prune whole files (the engine-side
    * equivalent of the reference caching data ordered per country).
    */
  def writeRangeSorted(df: DataFrame, path: String, sortCol: String, partitions: Int): Unit =
    df.repartitionByRange(partitions, org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** What [[FeatureService.cleanup]] did (or would do, when dryRun). */
  final case class CleanupReport(
      recovered: Seq[String],
      orphansRemoved: Seq[String],
      kept: Seq[String]
  )

  /** All live layer names in a service directory. */
  def listLayers(spark: SparkSession, servicePath: String): Seq[String] = {
    val f = fs(spark, servicePath)
    val base = new HPath(servicePath)
    if (!f.exists(base)) Seq.empty
    else
      f.listStatus(base).toIndexedSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(n => n.startsWith("layer=") && !n.endsWith(".staging") && !n.endsWith(".backup"))
        .map(_.stripPrefix("layer="))
        .sorted
  }

  /** Delete with bounded retries (reference cleanup.py:132
    * `_remove_path_with_retries` — transient FS errors shouldn't
    * fail a maintenance sweep).
    */
  private def removeWithRetries(f: FileSystem, p: HPath, retries: Int, delayMs: Long): Boolean = {
    var attempt = 0
    while (attempt < retries) {
      try {
        f.delete(p, true)
        return true
      } catch {
        case scala.util.control.NonFatal(_) =>
          attempt += 1
          if (attempt < retries) Thread.sleep(delayMs)
      }
    }
    false
  }

  /** Maintenance sweep (the engine-side model of reference
    * cleanup.py: orphan detection/removal + stale debris):
    *
    *  1. heal every half-finished swap (recoverLayer) — this also
    *     clears stale `.staging`/`.backup` debris;
    *  2. remove live layers NOT in `keep` (orphans — the analogue of
    *     AGOL items no query config references);
    *  3. report, without touching anything, when `dryRun`.
    */
  def cleanup(
      spark: SparkSession,
      servicePath: String,
      keep: Set[String],
      dryRun: Boolean = false,
      retries: Int = 3,
      retryDelayMs: Long = 100L
  ): CleanupReport = {
    val f = fs(spark, servicePath)
    val base = new HPath(servicePath)
    if (!f.exists(base)) return CleanupReport(Nil, Nil, Nil)
    // every layer name mentioned by ANY entry (live, staging, backup)
    val mentioned = f.listStatus(base).toIndexedSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("layer="))
      .map(_.stripPrefix("layer=").stripSuffix(".staging").stripSuffix(".backup"))
      .distinct.sorted
    val recovered = mentioned.filter { n =>
      val hadDebris =
        f.exists(new HPath(layerPath(servicePath, n) + ".staging")) ||
          f.exists(new HPath(layerPath(servicePath, n) + ".backup"))
      if (hadDebris && !dryRun) recoverLayer(spark, servicePath, n)
      hadDebris
    }
    val live = listLayers(spark, servicePath)
    val (keepers, orphans) = live.partition(keep.contains)
    val removed =
      if (dryRun) orphans
      else orphans.filter(n =>
        removeWithRetries(f, new HPath(layerPath(servicePath, n)), retries, retryDelayMs))
    CleanupReport(recovered, removed, keepers)
  }

  /** Chunking for batched uploads (reference: utils.py:331-374
    * `chunk_dataframe`/`estimate_chunk_size`): repartition so each
    * task writes ≈`maxRowsPerChunk` rows — partition count derives
    * from data size, not a driver-side loop over slices.
    */
  def chunkForUpload(df: DataFrame, totalRows: Long, maxRowsPerChunk: Int): DataFrame = {
    val parts = math.max(1, math.ceil(totalRows.toDouble / maxRowsPerChunk).toInt)
    df.repartition(parts)
  }

  /** Rows-per-chunk from a memory budget (reference utils.py:346-374
    * `estimate_chunk_size`): sample up to `sampleRows` rows, measure
    * the average serialized feature size, and size chunks to fit
    * `maxMemoryMb`. The size metric is the row's JSON payload octet
    * length — measured distributively inside codegen (one small
    * aggregate, nothing collected) and the honest proxy for a feature
    * upload, whose wire format IS the JSON feature. Bounds match the
    * reference: [100, 50000], default 1000 on empty input.
    */
  def estimateChunkSize(df: DataFrame, maxMemoryMb: Int = 500, sampleRows: Int = 1000): Int = {
    require(maxMemoryMb > 0, s"maxMemoryMb must be positive, got $maxMemoryMb")
    val agg = df.limit(sampleRows)
      .select(octet_length(to_json(struct(col("*")))).cast("long").as("sz"))
      .agg(sum(col("sz")).as("bytes"), count(lit(1)).as("n"))
      .head()
    val n = agg.getLong(1)
    if (n == 0L) 1000
    else {
      val perRowMb = agg.getLong(0).toDouble / n / (1024.0 * 1024.0)
      val size = if (perRowMb > 0) (maxMemoryMb / perRowMb).toInt else 1000
      math.max(100, math.min(size, 50000))
    }
  }

  /** Memory-budgeted chunking: [[chunkForUpload]] with the row count
    * per chunk derived from [[estimateChunkSize]] instead of an
    * explicit caller knob.
    */
  def chunkForUploadAuto(df: DataFrame, totalRows: Long, maxMemoryMb: Int = 500): DataFrame =
    chunkForUpload(df, totalRows, estimateChunkSize(df, maxMemoryMb))

  // -------------------------------------------------------------------
  // Item metadata + sharing (reference publish.py:234-342
  // `_normalize_tags` / `_update_item_metadata` /
  // `_normalize_visibility` / `_apply_item_sharing`): the published
  // layer's catalog-facing metadata, modeled as a JSON sidecar next
  // to the layer directory. Same merge discipline as the reference:
  // text fields overwrite only when non-empty AND different, tags
  // replace on set difference, visibility only UPGRADES
  // (private < org < public), group shares are ADDITIVE with
  // unknown groups skipped (never failing the publish).
  // -------------------------------------------------------------------

  final case class ItemMetadata(
      title: Option[String] = None,
      snippet: Option[String] = None,
      description: Option[String] = None,
      tags: Option[Seq[String]] = None,
      visibility: String = "private",
      groups: Seq[String] = Nil)

  final case class MetadataReport(
      updated: Boolean,
      appliedFields: Seq[String],
      skippedGroups: Seq[String])

  /** Comma-separated string → clean tag list (publish.py:234). */
  def normalizeTags(tags: String): Seq[String] =
    if (tags == null) Nil
    else tags.split(",").iterator.map(_.trim).filter(_.nonEmpty).toList

  /** Trim/drop-empty over an already-split list (publish.py:239). */
  def normalizeTagList(tags: Seq[String]): Seq[String] =
    if (tags == null) Nil
    else tags.iterator.filter(_ != null).map(_.trim).filter(_.nonEmpty).toList

  private val visibilityRank = Map("private" -> 0, "org" -> 1, "public" -> 2)

  /** Anything not exactly private/org/public → private
    * (publish.py:289 `_normalize_visibility`).
    */
  def normalizeVisibility(v: String): String = {
    val n = Option(v).map(_.trim.toLowerCase).getOrElse("")
    if (visibilityRank.contains(n)) n else "private"
  }

  def metadataPath(servicePath: String, layer: String): String =
    layerPath(servicePath, layer) + ".metadata.json"

  private def metadataJson(m: ItemMetadata): String = JsonConfig.obj(
    (m.title.map("title" -> _) ++ m.snippet.map("snippet" -> _) ++
      m.description.map("description" -> _) ++ m.tags.map("tags" -> _) ++
      Seq("visibility" -> m.visibility, "groups" -> m.groups)).toSeq: _*)

  /** Parse an ItemMetadata JSON document (a rendered template from
    * the Cli `--metadata=` flag) on the driver. Free-form
    * titles/descriptions are legal; malformed JSON, a top level that
    * is not an object and a non-array `tags`/`groups` are a
    * [[graft.ConfigError]].
    */
  def parseItemMetadata(json: String): ItemMetadata =
    itemMetadata(JsonConfig.parse(json, "item metadata"), "item metadata")

  private def itemMetadata(n: JsonNode, source: String): ItemMetadata = {
    def fail(msg: String) = new graft.ConfigError(s"item metadata: $msg", Map("path" -> source))
    if (!n.isObject) throw fail(s"top level must be an object, got ${n.getNodeType}")
    def list(key: String): Option[Seq[String]] = Option(n.get(key)).filterNot(_.isNull).map { a =>
      if (!a.isArray) throw fail(s"'$key' must be an array, got ${a.getNodeType}")
      a.elements.asScala.filterNot(_.isNull).map(_.asText).toList
    }
    ItemMetadata(
      title = JsonConfig.text(n, "title"),
      snippet = JsonConfig.text(n, "snippet"),
      description = JsonConfig.text(n, "description"),
      tags = list("tags"),
      visibility = normalizeVisibility(JsonConfig.text(n, "visibility").orNull),
      groups = list("groups").getOrElse(Nil))
  }

  /** Read the sidecar back (None when never applied). Falls back to
    * the `.backup` copy when a crashed swap left no live sidecar —
    * same recovery discipline as the layer swap.
    */
  def readItemMetadata(spark: SparkSession, servicePath: String, layer: String): Option[ItemMetadata] = {
    val f = fs(spark, servicePath)
    val live = new HPath(metadataPath(servicePath, layer))
    val backup = new HPath(metadataPath(servicePath, layer) + ".backup")
    val p = if (f.exists(live)) live else if (f.exists(backup)) backup else return None
    Some(itemMetadata(JsonConfig.read(spark, p.toString), p.toString))
  }

  /** Apply desired metadata to a published layer's sidecar. Returns
    * which fields changed; a no-op diff writes nothing (the
    * reference only calls item.update when props is non-empty).
    * `knownGroup` models AGOL group validation: unknown groups are
    * skipped with a report entry, matching on_missing_group=warn.
    */
  def applyItemMetadata(
      spark: SparkSession,
      servicePath: String,
      layer: String,
      desired: ItemMetadata,
      knownGroup: String => Boolean = _ => true
  ): MetadataReport = {
    require(layerExists(spark, servicePath, layer),
      s"cannot apply metadata: layer '$layer' not published at $servicePath")
    val current = readItemMetadata(spark, servicePath, layer).getOrElse(ItemMetadata())
    val applied = scala.collection.mutable.ListBuffer.empty[String]
    def textField(name: String, want: Option[String], have: Option[String]): Option[String] =
      want.map(_.trim).filter(_.nonEmpty) match {
        case Some(w) if !have.contains(w) => applied += name; Some(w)
        case _ => have
      }
    val title = textField("title", desired.title, current.title)
    val snippet = textField("snippet", desired.snippet, current.snippet)
    val description = textField("description", desired.description, current.description)
    val tags = desired.tags.map(normalizeTagList) match {
      case Some(want) if !current.tags.exists(_.toSet == want.toSet) =>
        applied += "tags"; Some(want)
      case _ => current.tags
    }
    val wantVis = normalizeVisibility(desired.visibility)
    val haveVis = normalizeVisibility(current.visibility)
    val visibility =
      if (visibilityRank(wantVis) > visibilityRank(haveVis)) { applied += "visibility"; wantVis }
      else haveVis
    val wanted = normalizeTagList(desired.groups).distinct
    val (known, skipped) = wanted.partition(knownGroup)
    val newGroups = known.filterNot(current.groups.contains)
    val groups =
      if (newGroups.nonEmpty) { applied += "groups"; current.groups ++ newGroups }
      else current.groups
    val merged = ItemMetadata(title, snippet, description, tags, visibility, groups)
    if (applied.isEmpty) MetadataReport(updated = false, Nil, skipped)
    else {
      // Same rename-aside swap the layer upsert uses: the previous
      // sidecar is moved ASIDE (never deleted while it is the only
      // copy), so a crash at any point leaves either the old or the
      // new metadata readable (readItemMetadata falls back to
      // .backup) — a delete-then-rename would open a window with no
      // sidecar at all.
      val f = fs(spark, servicePath)
      val dest = new HPath(metadataPath(servicePath, layer))
      val tmp = new HPath(metadataPath(servicePath, layer) + ".tmp")
      val backup = new HPath(metadataPath(servicePath, layer) + ".backup")
      val out = f.create(tmp, true)
      try out.write(metadataJson(merged).getBytes("UTF-8"))
      finally out.close()
      if (f.exists(backup) && !f.delete(backup, false))
        throw new java.io.IOException(s"metadata swap: cannot clear stale $backup")
      if (f.exists(dest) && !f.rename(dest, backup))
        throw new java.io.IOException(s"metadata swap: cannot move $dest aside")
      if (!f.rename(tmp, dest))
        throw new java.io.IOException(
          s"metadata swap: promote failed; previous sidecar preserved at $backup")
      f.delete(backup, false)
      MetadataReport(updated = true, applied.toList, skipped)
    }
  }

  // -------------------------------------------------------------------
  // Hardened append path (reference publish.py:505
  // `_append_via_item_hardened`, :604 `_append_via_batches`, :646
  // `_initial_with_seed_and_append`, :478 `_poll_append_job`): each
  // batch stages as a TEMP ITEM (its own directory), commits into
  // the live layer with per-batch rollback, and the temp item is
  // deleted on success AND failure. Batch windows walk a key range;
  // a transient transport failure halves the window and retries the
  // SAME window (never advancing past unappended rows), down to a
  // floor. The poll loop is bounded by a timeout.
  // -------------------------------------------------------------------

  /** 413/502/504-class failure — the only class the batch walker
    * retries with a smaller window; anything else propagates.
    */
  final class TransientAppendError(msg: String) extends RuntimeException(msg)

  final case class AppendReport(
      windows: Int,
      halvings: Int,
      finalSpan: Long,
      rowsAppended: Long)

  private def appendItemsDir(servicePath: String) = s"$servicePath/_append_items"

  /** Temp-item dirs left behind by crashed appends (cleanup sweeps
    * them like .staging/.backup debris).
    */
  def orphanAppendItems(spark: SparkSession, servicePath: String): Seq[String] = {
    val f = fs(spark, servicePath)
    val base = new HPath(appendItemsDir(servicePath))
    if (!f.exists(base)) Nil
    else f.listStatus(base).toIndexedSeq.map(_.getPath.getName).sorted
  }

  /** Stage `batch` as a temp item, then commit its part files into
    * the live layer. Commit is file-at-a-time rename with uuid-fresh
    * names; on ANY failure every file already moved is rolled back
    * (reference append(rollback=True)) and the temp item is removed
    * in finally (reference's finally: temp_item.delete()). Returns
    * rows appended.
    */
  def appendItemHardened(batch: DataFrame, servicePath: String, layer: String): Long = {
    val spark = batch.sparkSession
    require(layerExists(spark, servicePath, layer),
      s"append target layer '$layer' does not exist (publish Initial/Auto first)")
    val f = fs(spark, servicePath)
    val itemId = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val itemDir = new HPath(s"${appendItemsDir(servicePath)}/item_$itemId")
    val live = new HPath(layerPath(servicePath, layer))
    val obs = org.apache.spark.sql.Observation()
    val moved = scala.collection.mutable.ListBuffer.empty[HPath]
    try {
      batch
        .observe(obs, count(lit(1)).as("rows"))
        .write.mode("errorifexists").parquet(itemDir.toString)
      val parts = f.listStatus(itemDir).toIndexedSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      parts.zipWithIndex.foreach { case (s, i) =>
        val dest = new HPath(live, s"part-append-$itemId-$i.parquet")
        if (!f.rename(s.getPath, dest))
          throw new java.io.IOException(s"append commit: rename ${s.getPath} -> $dest failed")
        moved += dest
      }
      obs.get("rows").asInstanceOf[Long]
    } catch {
      case e: graft.GraftError =>
        moved.foreach(p => f.delete(p, false)) // rollback=True
        throw e
      case scala.util.control.NonFatal(e) =>
        moved.foreach(p => f.delete(p, false)) // rollback=True
        throw new graft.PublishError(
          s"hardened append failed: ${e.getMessage}",
          Map("service" -> servicePath, "layer" -> layer,
            "stage" -> "append-item"), e)
    } finally {
      f.delete(itemDir, true) // temp item removed on success AND failure
    }
  }

  /** Batched hardened append over the `[keyMin, keyMax]` range of a
    * long key: windows of `span` keys commit left to right; a
    * [[TransientAppendError]] halves the span (floor `minSpan`) and
    * retries the SAME window. `commit` is injectable so failure
    * shapes are testable; production callers take the default.
    */
  def appendBatches(
      df: DataFrame,
      servicePath: String,
      layer: String,
      keyCol: String,
      keyMin: Long,
      keyMax: Long,
      span: Long,
      minSpan: Long = 1L
  )(commit: DataFrame => Long = appendItemHardened(_, servicePath, layer)): AppendReport = {
    require(span >= 1 && minSpan >= 1 && minSpan <= span, "need span >= minSpan >= 1")
    var bs = span
    var start = keyMin
    var windows = 0
    var halvings = 0
    var rows = 0L
    var done = start > keyMax
    while (!done) {
      // inclusive window end, computed by SUBTRACTION: `start + bs`
      // overflows Long when keyMax sits near Long.MaxValue (a
      // realistic shape for hashed keys) and would spin the loop on
      // empty wrapped windows forever
      val last = if (keyMax - start >= bs) start + bs - 1 else keyMax
      val batch = df.filter(col(keyCol) >= start && col(keyCol) <= last)
      try {
        if (!batch.isEmpty) {
          rows += commit(batch)
          windows += 1
        }
        if (last == keyMax) done = true else start = last + 1
      } catch {
        case _: TransientAppendError if bs > minSpan =>
          // same window, half the payload (publish.py:634)
          bs = math.max(minSpan, bs / 2)
          halvings += 1
        case e: TransientAppendError =>
          throw new RuntimeException(
            s"append window [$start, $last] still failing at minimum span $minSpan", e)
      }
    }
    AppendReport(windows, halvings, bs, rows)
  }

  /** INITIAL as seed-then-append (publish.py:646): a small seed
    * batch creates the layer (schema + first rows), the remainder
    * flows through the hardened batch path — the shape that keeps a
    * huge initial publish restartable instead of one giant upload.
    */
  def initialWithSeedAndAppend(
      df: DataFrame,
      servicePath: String,
      layer: String,
      keyCol: String,
      keyMin: Long,
      keyMax: Long,
      seedSpan: Long,
      span: Long,
      minSpan: Long = 1L
  ): AppendReport = {
    val spark = df.sparkSession
    if (layerExists(spark, servicePath, layer))
      throw new IllegalStateException(s"layer '$layer' already exists at $servicePath")
    // "Nothing to publish (no features)" — the reference returns
    // without creating anything (publish.py:652); creating a layer
    // from zero rows would leave a part-less directory a reader
    // can't open.
    if (df.isEmpty) return AppendReport(0, 0, span, 0L)
    // Every row must fall inside the declared key range: a key
    // outside [keyMin, keyMax] (or null) would be dropped by the
    // window walk SILENTLY — data loss on an INITIAL publish that
    // claims to equal a one-shot publish. One column-pruned scan.
    require(df.filter(col(keyCol).isNull ||
        col(keyCol) < keyMin || col(keyCol) > keyMax).isEmpty,
      s"initialWithSeedAndAppend: rows carry $keyCol outside [$keyMin, $keyMax] (or null); " +
        "they would be silently skipped — widen the range or fix the key")
    require(keyMax - keyMin >= seedSpan - 1, "seedSpan must fit inside the key range")
    val seedEnd = keyMin + seedSpan // no overflow: seedSpan bounded by the range above
    val seed = df.filter(col(keyCol) >= keyMin && col(keyCol) < seedEnd)
    // An empty seed window would create the layer from zero rows —
    // a part-less directory subsequent appends target but a reader
    // cannot open.
    require(!seed.isEmpty,
      s"initialWithSeedAndAppend: seed window [$keyMin, $seedEnd) holds no rows; " +
        "start keyMin at the data's minimum key")
    seed.write.mode("errorifexists").parquet(layerPath(servicePath, layer))
    appendBatches(df, servicePath, layer, keyCol, seedEnd, keyMax, span, minSpan)()
  }

  /** Bounded job poll (publish.py:478 `_poll_append_job`): `status`
    * returns running/completed/failed; failed raises, and a job that
    * never completes raises at `timeoutMs` instead of spinning
    * forever.
    */
  def pollAppendJob(status: () => String, timeoutMs: Long, intervalMs: Long = 10L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (true) {
      status() match {
        case "completed" => return
        case "failed"    => throw new RuntimeException("append job failed")
        case _ =>
          if (System.nanoTime() > deadline)
            throw new RuntimeException(s"append job timed out after ${timeoutMs}ms")
          Thread.sleep(intervalMs)
      }
    }
  }
}
