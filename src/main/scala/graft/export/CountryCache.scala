package graft.`export`

import graft.config.JsonConfig
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed result cache (reference: src/o2agol/pipeline/source.py
  * cache management, :1348-1455 — parquet per
  * country/theme/type/release with a JSON metadata sidecar, plus
  * the column-completeness fallback check at :829-845).
  */
final case class CacheKey(country: String, theme: String, typeName: String, release: String) {
  def relPath: String = s"release=$release/country=$country/theme=$theme/type=$typeName"
}

/** [[CountryCache.stats]] result — the reference's `get_cache_stats`
  * dict shape (counts, bytes, distinct countries/releases) with a
  * per-release (release, entries, bytes) breakdown.
  */
final case class CacheStats(
    entries: Int,
    totalBytes: Long,
    countries: Int,
    releases: Int,
    perRelease: Seq[(String, Int, Long)])

final class CountryCache(spark: SparkSession, basePath: String) {

  private val fs: FileSystem =
    FileSystem.get(new java.net.URI(basePath), spark.sparkContext.hadoopConfiguration)

  private def dataPath(key: CacheKey) = s"$basePath/${key.relPath}/data.parquet"
  private def metaPath(key: CacheKey) = s"$basePath/${key.relPath}/metadata.json"

  def exists(key: CacheKey): Boolean = fs.exists(new HPath(dataPath(key)))

  /** Write-through cache: parquet + metadata sidecar. The feature
    * count rides along on the WRITE pass via an `observe` metric —
    * no post-write re-read of the layer (at 100 TB that re-read is a
    * whole extra scan).
    */
  def put(key: CacheKey, df: DataFrame, cachedDate: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dataPath(key))
    val count = obs.get("rows").asInstanceOf[Long]
    val meta = JsonConfig.obj("country" -> key.country, "theme" -> key.theme,
      "type" -> key.typeName, "release" -> key.release, "features" -> count,
      "cached_at" -> cachedDate)
    val out = fs.create(new HPath(metaPath(key)), true)
    try out.write(meta.getBytes("UTF-8"))
    finally out.close()
    count
  }

  /** Cache read with the reference's column-completeness guard:
    * a hit whose schema lacks expected columns is treated as a miss
    * so the caller falls back to the authoritative source
    * (reference source.py:829-845).
    */
  def getIfComplete(key: CacheKey, expectedColumns: Set[String]): Option[DataFrame] =
    if (!exists(key)) None
    else {
      val df = spark.read.parquet(dataPath(key))
      val missing = expectedColumns -- df.columns.toSet
      if (missing.nonEmpty) None else Some(df)
    }

  /** Enumerate cached entries (reference cli.py:2093 `list_cache`):
    * walks the release/country/theme/type directory tree.
    */
  def list(): Seq[CacheKey] = {
    val base = new HPath(basePath)
    if (!fs.exists(base)) Seq.empty
    else {
      def kids(p: HPath): Seq[HPath] =
        fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toIndexedSeq
      for {
        rel <- kids(base) if rel.getName.startsWith("release=")
        cty <- kids(rel) if cty.getName.startsWith("country=")
        th  <- kids(cty) if th.getName.startsWith("theme=")
        ty  <- kids(th) if ty.getName.startsWith("type=")
        if fs.exists(new HPath(ty, "data.parquet"))
      } yield CacheKey(
        country = cty.getName.stripPrefix("country="),
        theme = th.getName.stripPrefix("theme="),
        typeName = ty.getName.stripPrefix("type="),
        release = rel.getName.stripPrefix("release="))
    }
  }

  /** Drop one cached entry (reference cli.py:2168 `clear_cache`). */
  def clear(key: CacheKey): Boolean =
    fs.delete(new HPath(s"$basePath/${key.relPath}"), true)

  /** Aggregate cache statistics (reference source.py:1642
    * `get_cache_stats`: total size, total files, distinct countries
    * and releases), plus the per-release breakdown (entry count +
    * bytes) the CLI's list-cache footer prints. One directory walk;
    * sizes come from the filesystem's content summary, not a data
    * read.
    */
  def stats(): CacheStats = {
    val sized = list().map { k =>
      (k, fs.getContentSummary(new HPath(s"$basePath/${k.relPath}")).getLength)
    }
    val perRelease = sized.groupBy(_._1.release).toSeq
      .map { case (r, xs) => (r, xs.size, xs.map(_._2).sum) }
      .sortBy(_._1)
    CacheStats(
      entries = sized.size,
      totalBytes = sized.map(_._2).sum,
      countries = sized.map(_._1.country).distinct.size,
      releases = sized.map(_._1.release).distinct.size,
      perRelease = perRelease)
  }

  /** Newest complete cached entry for the same logical layer at ANY
    * release — the stale-but-complete fallback candidate. "Newest"
    * is lexicographic descending on the release string: the release
    * naming contract is sortable ISO dates (`2026-01`,
    * `2026-01-15.0` — the reference's scheme); non-padded numeric
    * names would mis-order here.
    */
  private def latestComplete(
      country: String,
      theme: String,
      typeName: String,
      expectedColumns: Set[String]
  ): Option[DataFrame] =
    list()
      .filter(k => k.country == country && k.theme == theme && k.typeName == typeName)
      .sortBy(_.release)(Ordering[String].reverse)
      .iterator
      .map(getIfComplete(_, expectedColumns))
      .collectFirst { case Some(df) => df }

  /** cache → fallback compute → write-through, with the reference's
    * retry-and-degrade semantics (`_fetch_dual_query_with_retry`,
    * source.py:1070; `_read_single_layer_with_fallback`,
    * source.py:804-936): the compute is retried `maxAttempts` times
    * with exponential backoff; if every attempt fails, a complete
    * cache entry from an OLDER release is served rather than failing
    * the pipeline; only when no such entry exists does the last
    * error propagate.
    */
  def readThrough(
      key: CacheKey,
      expectedColumns: Set[String],
      cachedDate: String,
      maxAttempts: Int = 3,
      backoffMs: Long = 100L
  )(compute: => DataFrame): DataFrame =
    getIfComplete(key, expectedColumns).getOrElse {
      // NOTE: no `return` in this block — it is a closure (getOrElse's
      // by-name argument), where `return` compiles to a thrown
      // NonLocalReturnControl that a broad catch would swallow as a
      // "failed attempt".
      var lastErr: Throwable = null
      var result: Option[DataFrame] = None
      var attempt = 0
      while (result.isEmpty && attempt < maxAttempts) {
        try {
          val fresh = compute
          put(key, fresh, cachedDate)
          result = Some(spark.read.parquet(dataPath(key)))
        } catch {
          case scala.util.control.NonFatal(e) =>
            lastErr = e
            attempt += 1
            if (attempt < maxAttempts) Thread.sleep(backoffMs << (attempt - 1))
        }
      }
      result
        .orElse(latestComplete(key.country, key.theme, key.typeName, expectedColumns))
        .getOrElse(throw lastErr)
    }
}
