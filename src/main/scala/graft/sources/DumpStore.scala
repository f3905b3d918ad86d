package graft.sources

import graft.config.JsonConfig
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One ensured dump entry as listed by [[DumpStore.list]]. */
final case class DumpEntry(release: String, theme: String, rows: Long, ensuredAt: String)

/** Release-pinned local lake copies — the engine-side analogue of the
  * reference's dump manager (reference: src/o2agol/pipeline/source.py
  * :1092 `ensure_dump`, :1235 `_check_dump_exists`, :1265
  * `_delete_dump`; surfaced by cli.py:1423 `overture-dump`): fetch a
  * theme once from the upstream lake, pin it under a release
  * directory with a completeness-stamped metadata sidecar, and serve
  * every later read locally.
  *
  * Spark-first deviations from the reference's shape, on purpose:
  *
  *   - The copy is written by a DISTRIBUTED `df.write.parquet`, not a
  *     driver-side single-connection COPY — at 100 TB the fetch is a
  *     cluster job like any other, and the dump inherits the upstream
  *     partitioning instead of one 100 GB file per type.
  *   - Layout is the engine's native table layout
  *     (`release=<R>/<theme>.parquet/`), so a release directory IS a
  *     valid sf dir: every registry/ref query runs against a dump
  *     unchanged by passing [[releaseDir]] as its `sfDir`. The
  *     reference needs a bespoke `_read_from_dump`; here the read
  *     path is `Tables` itself.
  *   - Completeness is commit-ordered, same as the reference's
  *     `is_complete` flag: metadata.json is written only AFTER the
  *     parquet lands, so a crash mid-fetch leaves an entry that
  *     [[exists]] rejects and the next [[ensure]] rewrites. A failed
  *     fetch deletes its partial output (source.py:1230).
  *   - The row count rides on the write pass via `observe` (the
  *     CountryCache pattern) — no post-write re-count scan.
  */
final class DumpStore(spark: SparkSession, basePath: String) {

  private val fs: FileSystem =
    FileSystem.get(new java.net.URI(basePath), spark.sparkContext.hadoopConfiguration)

  /** In-memory metadata memo (reference `_dump_metadata_cache`),
    * scoped to PARSING only: existence is always re-checked on the
    * filesystem so another DumpStore instance (a second CLI
    * invocation, a cleanup job) deleting an entry is seen
    * immediately — the cache can never resurrect a deleted dump.
    */
  private val metaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DumpEntry]

  /** The release directory doubles as an sf dir for `Tables`. */
  def releaseDir(release: String): String = s"$basePath/release=$release"

  private def dataPath(release: String, theme: String) =
    s"${releaseDir(release)}/$theme.parquet"
  private def metaPath(release: String, theme: String) =
    s"${releaseDir(release)}/_dump_theme=$theme.json"

  private def readMeta(release: String, theme: String): Option[DumpEntry] = {
    val p = new HPath(metaPath(release, theme))
    if (!fs.exists(p)) {
      metaCache.remove((release, theme))
      None
    } else metaCache.get((release, theme)).orElse {
        // A sidecar cut short by a crash does not parse: the dump is
        // incomplete, and the next ensure rewrites it.
        val meta =
          try Some(JsonConfig.read(spark, p.toString))
          catch { case _: graft.ConfigError => None }
        def field(k: String): Option[String] = meta.flatMap(JsonConfig.text(_, k))
        val entry = for {
          r <- field("release"); t <- field("theme")
          n <- field("rows").flatMap(_.toLongOption); at <- field("ensured_at")
          if field("is_complete").contains("true")
        } yield DumpEntry(r, t, n, at)
        entry.foreach(metaCache.put((release, theme), _))
        entry
    }
  }

  /** True iff the dump exists AND its metadata marks it complete. */
  def exists(release: String, theme: String): Boolean =
    readMeta(release, theme).isDefined

  /** Ensure a theme is present in the `release` dump: serve the
    * existing complete copy, or fetch + pin it (force re-fetches).
    * Returns the parquet path of the ensured copy.
    */
  def ensure(release: String, theme: String, ensuredAt: String, force: Boolean = false)(
      fetch: => DataFrame): String = {
    // Validate at WRITE time: release/theme/ensuredAt are free-form
    // CLI input; release and theme become path segments
    // (`release=<R>/_dump_theme=<T>.json`), and list() recovers them
    // from those names. A path separator, `=` or an empty name would
    // make a COMPLETED dump unreachable — reject it before any bytes
    // land. ensured_at follows the same rule to stay a plain stamp.
    Seq("release" -> release, "theme" -> theme, "ensured_at" -> ensuredAt).foreach {
      case (what, v) =>
        if (!(v.nonEmpty && v.forall(ch =>
            ch.isLetterOrDigit || ch == '.' || ch == '_' || ch == '-' || ch == ':')))
          throw new graft.ConfigError(
            s"dump $what '$v' must be non-empty [A-Za-z0-9._:-] " +
              "(it names storage paths)",
            Map("release" -> release, "theme" -> theme, "stage" -> "ensure-dump"))
    }
    val data = dataPath(release, theme)
    if (exists(release, theme)) {
      if (!force) return data
      delete(release, theme)
    }
    try {
      val obs = org.apache.spark.sql.Observation()
      fetch
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.mode("overwrite").parquet(data)
      val rows = obs.get("rows").asInstanceOf[Long]
      val meta = JsonConfig.obj("release" -> release, "theme" -> theme, "rows" -> rows,
        "is_complete" -> true, "ensured_at" -> ensuredAt)
      val out = fs.create(new HPath(metaPath(release, theme)), true)
      try out.write(meta.getBytes("UTF-8"))
      finally out.close()
      metaCache.put((release, theme), DumpEntry(release, theme, rows, ensuredAt))
      data
    } catch {
      case e: graft.GraftError =>
        delete(release, theme) // never leave a half-fetched dump behind
        throw e
      case scala.util.control.NonFatal(e) =>
        delete(release, theme) // never leave a half-fetched dump behind
        throw new graft.OvertureError(
          s"dump fetch failed: ${e.getMessage}",
          Map("release" -> release, "theme" -> theme, "stage" -> "ensure-dump"), e)
    }
  }

  /** Enumerate complete dumps across all releases (cli `list-dumps`). */
  def list(): Seq[DumpEntry] = {
    val base = new HPath(basePath)
    if (!fs.exists(base)) Seq.empty
    else
      fs.listStatus(base).toIndexedSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("release="))
        .flatMap { rel =>
          val release = rel.getPath.getName.stripPrefix("release=")
          fs.listStatus(rel.getPath).toIndexedSeq
            .map(_.getPath.getName)
            .collect { case n if n.startsWith("_dump_theme=") && n.endsWith(".json") =>
              n.stripPrefix("_dump_theme=").stripSuffix(".json")
            }
            .flatMap(theme => readMeta(release, theme))
        }
        .sortBy(e => (e.release, e.theme))
  }

  /** Drop one theme's dump (cli `delete-dump`); true if anything was
    * removed. Metadata goes FIRST so a partial delete can only leave
    * data an `exists` check already rejects.
    */
  def delete(release: String, theme: String): Boolean = {
    metaCache.remove((release, theme))
    val m = fs.delete(new HPath(metaPath(release, theme)), false)
    val d = fs.delete(new HPath(dataPath(release, theme)), true)
    m || d
  }

  /** Read an ensured theme (the dump-served read path). */
  def read(release: String, theme: String): DataFrame = {
    if (!exists(release, theme))
      throw new graft.OvertureError(
        "no complete dump — run ensure first",
        Map("release" -> release, "theme" -> theme, "stage" -> "read-dump"))
    spark.read.parquet(dataPath(release, theme))
  }

  // ---- "latest" resolution (reference settings.py:45
  // get_latest_overture_release, which probes the remote STAC
  // catalog's "latest" field). Declared network deviation: the same
  // contract is served from LOCAL state — a catalog.json at the store
  // base wins (the exact file shape the reference fetches), else the
  // newest release that has at least one COMPLETE theme, under the
  // natural release ordering (so `2025-06-25.10` > `2025-06-25.9`,
  // which plain string order gets wrong).

  /** The store-base catalog file, same shape the reference probes. */
  def catalogPath: String = s"$basePath/catalog.json"

  private def catalogLatest(): Option[String] =
    if (!fs.exists(new HPath(catalogPath))) None
    else {
      val latest = JsonConfig.text(JsonConfig.read(spark, catalogPath), "latest").filter(_.nonEmpty)
      // Mirror the reference's failure contract: a catalog that omits
      // (or blanks) "latest" is an error, not a silent fallback —
      // settings.py:53-55 raises ValueError.
      if (latest.isEmpty)
        throw new graft.ConfigError(
          s"catalog $catalogPath is present but has no 'latest' field",
          Map("stage" -> "resolve-release"))
      latest
    }

  /** Newest release with at least one complete theme, or the
    * catalog's pin when one exists.
    */
  def latestRelease(): Option[String] =
    catalogLatest().orElse(
      list().map(_.release).distinct
        .sortWith(DumpStore.compareReleases(_, _) < 0).lastOption)

  /** Resolve a CLI release spec: the literal `latest` resolves via
    * [[latestRelease]]; anything else passes through unchanged.
    */
  def resolveRelease(spec: String): String =
    if (spec != "latest") spec
    else latestRelease().getOrElse(throw new graft.ConfigError(
      s"cannot resolve 'latest': no catalog.json at $catalogPath and no complete dumps under $basePath",
      Map("release" -> spec, "stage" -> "resolve-release")))
}

object DumpStore {

  /** Natural ordering for release identifiers (`2025-06-25.2`-shaped,
    * but tolerant of arbitrary text): digit runs compare numerically,
    * non-digit runs lexicographically, a proper prefix sorts first,
    * and exact-tie-under-natural-order (e.g. `1.02` vs `1.2`) falls
    * back to plain string order so the ordering stays total and
    * deterministic.
    */
  def compareReleases(a: String, b: String): Int = {
    def tokens(s: String): List[String] =
      if (s.isEmpty) Nil
      else {
        val (run, rest) = s.span(_.isDigit == s.head.isDigit)
        run :: tokens(rest)
      }
    @annotation.tailrec
    def cmp(xs: List[String], ys: List[String]): Int = (xs, ys) match {
      case (Nil, Nil) => 0
      case (Nil, _)   => -1
      case (_, Nil)   => 1
      case (x :: xt, y :: yt) =>
        val c =
          if (x.head.isDigit && y.head.isDigit) {
            // Numeric compare without overflow: strip leading zeros,
            // longer run is greater, then lexicographic.
            val (nx, ny) = (x.dropWhile(_ == '0'), y.dropWhile(_ == '0'))
            if (nx.length != ny.length) nx.length.compareTo(ny.length)
            else nx.compareTo(ny)
          } else x.compareTo(y)
        if (c != 0) c else cmp(xt, yt)
    }
    val c = cmp(tokens(a), tokens(b))
    if (c != 0) c else a.compareTo(b)
  }
}
