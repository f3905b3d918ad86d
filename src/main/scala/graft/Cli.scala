package graft

import graft.config.{CountryRegistry, QueryConfig}
import graft.`export`.{CacheKey, CountryCache, Exporter, ExportFormat, FeatureService, GeoJson, PublishMode, SectorService}
import graft.operators.Normalize
import graft.sources.{OvertureReader, ReadRequest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Thin user-facing entry point — the engine-side analogue of the
  * reference's typer CLI (reference: src/o2agol/cli.py — `export`,
  * `arcgis-upload`, `list-queries`, `list-cache`, `clear-cache`,
  * `version`). The CLI only WIRES the library: catalog entry →
  * read → normalize/enrich → export or publish; every step is the
  * same public API the registry queries exercise.
  *
  * Usage (valued flags use `--key=value`):
  * {{{
  *   graft.Cli export   <catalog.json> <query> <sfDir> <outPath> [--country=ISO3] [--geom=xCol,yCol] [--date=ISO] [--raw]
  *   graft.Cli publish  <catalog.json> <query> <sfDir> <servicePath> [--mode=auto|initial|overwrite|append] [--country=ISO3] [--date=ISO] [--metadata=template.json]
  *   graft.Cli publish-sectors <catalog.json> <sector,names> <sfDir> <servicePath> [--mode=…] [--geom=xCol,yCol] [--square=xCol,yCol,halfWidth]
  *   graft.Cli run          <registry-query> <sfDir> <outPath.{parquet,csv}>
  *   graft.Cli list-registry
  *   graft.Cli list-queries <catalog.json>
  *   graft.Cli list-cache   <cachePath>
  *   graft.Cli clear-cache  <cachePath> <release> <country> <theme> <type>
  *   graft.Cli ensure-dump  <sfDir> <dumpBase> <theme> <release|latest> [--force] [--date=ISO]
  *   graft.Cli list-dumps   <dumpBase>
  *   graft.Cli delete-dump  <dumpBase> <theme> <release>
  *   graft.Cli compact      <inDir> <outDir> [--target-mb=128]
  *   graft.Cli cleanup      <servicePath> <keep,names> [--dry-run]
  *   graft.Cli version
  * }}}
  */
object Cli {

  val Version = "0.2.0"

  private def flags(args: Seq[String]): (Seq[String], Map[String, String]) = {
    val (f, pos) = args.partition(_.startsWith("--"))
    val kv = f.map { s =>
      val eq = s.indexOf('=')
      if (eq >= 0) s.substring(2, eq) -> s.substring(eq + 1)
      else s.substring(2) -> "true"
    }.toMap
    (pos, kv)
  }

  /** catalog entry → read → sanitize → enrich: the common front half
    * of export and publish (reference process_target, cli.py:416).
    */
  private[graft] def runPipeline(
      spark: SparkSession,
      cfg: QueryConfig,
      sfDir: String,
      countryIso3: String,
      date: String,
      raw: Boolean = false
  ): DataFrame = {
    val t = Tables(spark, sfDir)
    // Multilayer targets fetch BOTH queries (reference
    // _fetch_dual_query, source.py:509-543: a dict with 'places'
    // and 'buildings' keys) — the combined frame carries the layer
    // tag in `source_type`, and the export verb splits it back into
    // layers for the formats the reference writes as dicts.
    val rawDf =
      if (cfg.isMultilayer)
        OvertureReader.readMultilayer(t, Seq(
          "places" -> ReadRequest(cfg.theme, filter = cfg.filter),
          "buildings" -> ReadRequest(cfg.buildingTheme.getOrElse(cfg.theme),
            filter = cfg.buildingFilter)))
      else OvertureReader.read(t, ReadRequest(cfg.theme, filter = cfg.filter))
    val country = CountryRegistry.builtin.get(countryIso3)
      .getOrElse(throw new IllegalArgumentException(s"unknown country: $countryIso3"))
    // --raw: unmodified source data, no normalize/metadata pass
    // (reference cli.py:911-919 "Exporting raw Overture data (no
    // AGOL transformations)").
    if (raw) rawDf
    else Normalize.addMetadata(
      Normalize.orderColumnsForPublish(Normalize.clipStrings(rawDf)),
      country.iso3, country.name, cfg.sectorTitle, date)
  }

  private def loadEntry(spark: SparkSession, catalogPath: String, name: String): QueryConfig = {
    val catalog = QueryConfig.catalog(spark, catalogPath)
    catalog.getOrElse(name, throw new IllegalArgumentException(
      s"no query '$name' in $catalogPath (have: ${catalog.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** Verb dispatch, separated from main() so specs can call it with a
    * test session and capture behavior without forking a JVM.
    */
  private[graft] def run(spark: SparkSession, args: Seq[String]): Unit = {
    val (pos, opt) = flags(args)
    // Layered settings (reference settings.py Config): explicit CLI
    // flags > GRAFT_* environment > --settings file > defaults.
    val settings = opt.get("settings")
      .map(f => graft.config.Settings.loadFile(f, sys.env.toMap))
      .getOrElse(graft.config.Settings.load(env = sys.env.toMap))
    val date = opt.getOrElse("date", settings("publish.date"))
    /** `--mode`, else the verb's own default. */
    def publishMode(default: String): PublishMode.Value =
      opt.getOrElse("mode", default).toLowerCase match {
        case "auto"      => PublishMode.Auto
        case "initial"   => PublishMode.Initial
        case "overwrite" => PublishMode.Overwrite
        case "append"    => PublishMode.Append
        case other       => throw new IllegalArgumentException(s"unknown mode: $other")
      }
    pos match {
      case Seq("export", catalogPath, name, sfDir, outPath) =>
        val cfg = loadEntry(spark, catalogPath, name)
        val raw = opt.get("raw").exists(_.toBoolean)
        val df = runPipeline(spark, cfg, sfDir, opt.getOrElse("country", "AFG"), date, raw)
        val fmt = ExportFormat.fromPath(outPath)
        val geomCols = opt.get("geom").map { g =>
          g.split(",", 2) match {
            case Array(xc, yc) if yc.nonEmpty => (col(xc).cast("double"), col(yc).cast("double"))
            case _ => throw new IllegalArgumentException(
              s"--geom expects xCol,yCol (got '$g')")
          }
        }
        // Multilayer dict routing for the formats the reference
        // writes as layered single files (export.py:337-344 GPKG,
        // 266-296 GeoJSON): split the dual-query frame back into its
        // source_type layers; every other format keeps the combined
        // frame (source_type rides as a column, the parquet/seq
        // convention).
        if (cfg.isMultilayer &&
            (fmt == ExportFormat.Gpkg || fmt == ExportFormat.GeoJson)) {
          val (xc, yc) = geomCols.getOrElse(throw new IllegalArgumentException(
            s"multilayer $fmt export needs --geom=xCol,yCol"))
          val layers = Seq("places", "buildings").map { ln =>
            ln -> df.filter(col("source_type") === ln).drop("source_type")
          }
          fmt match {
            case ExportFormat.Gpkg =>
              Exporter.writeGpkgLayers(
                layers.map { case (ln, ldf) =>
                  ln -> ldf.withColumn("geom", graft.functions.Wkb.wkbFromXY(xc, yc))
                }, outPath, target = name, raw = raw)
            case _ =>
              Exporter.writeGeoJsonLayers(
                layers.map { case (ln, ldf) => (ln, ldf, GeoJson.pointGeometry(xc, yc)) },
                outPath, target = name, generatedAt = date, raw = raw)
          }
        } else {
          // raw single layer: the reference names it "features"
          // (export.py:346-348) and stamps data_type raw_overture
          Exporter.write(df, outPath, fmt,
            geometryJson = geomCols.map { case (x, y) => GeoJson.pointGeometry(x, y) },
            target = if (raw) "features" else name, generatedAt = date,
            geometryWkb = geomCols.map { case (x, y) => graft.functions.Wkb.wkbFromXY(x, y) },
            raw = raw)
        }
        println(s"exported ${cfg.name} -> $outPath ($fmt)")

      case Seq("publish", catalogPath, name, sfDir, servicePath) =>
        val cfg = loadEntry(spark, catalogPath, name)
        val country = opt.getOrElse("country", "AFG")
        val df = runPipeline(spark, cfg, sfDir, country, date)
        val mode = publishMode(settings("publish.mode"))
        // Call-frame enrichment (errors.scala): the engine raised
        // with {service, layer, mode, stage}; only the CLI knows the
        // country and command.
        try FeatureService.publish(df, servicePath, cfg.name, mode, cfg.upsertKey)
        catch {
          case e: graft.GraftError => throw graft.GraftError.enrich(e,
            Map("country" -> country, "command" -> "publish"))
        }
        println(s"published ${cfg.name} -> $servicePath (mode=$mode)")
        // Item metadata (reference publish.py:234-342): a JSON
        // template rendered with the publish context, then applied
        // additively to the layer's metadata sidecar.
        opt.get("metadata").foreach { mPath =>
          val raw = new String(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(mPath)), "UTF-8")
          val rendered = graft.config.MetadataTemplate.render(raw, Map(
            "name" -> cfg.name,
            "country" -> country,
            "date" -> date,
            "title" -> cfg.sectorTitle.getOrElse(cfg.name),
            "tag" -> cfg.sectorTag.getOrElse("")))
          val rep = FeatureService.applyItemMetadata(
            spark, servicePath, cfg.name,
            FeatureService.parseItemMetadata(rendered))
          println(s"metadata ${if (rep.updated) "applied" else "unchanged"}: " +
            s"fields=${rep.appliedFields.mkString(",")}" +
            (if (rep.skippedGroups.nonEmpty)
               s" skipped_groups=${rep.skippedGroups.mkString(",")}" else ""))
        }

      // Multi-sector composition (reference cli.py:2306
      // `add_sector_layers`): each named catalog entry contributes
      // places (theme+filter) and buildings (building_theme+
      // building_filter) layers plus a places_combined layer of
      // places + building centroids — all sectors in ONE service.
      // --geom names the places point columns; --square synthesizes
      // a square footprint ring per building from a center point and
      // half-width (the testdata carries no polygon geometry; the
      // shoelace centroid math still runs for real and must land
      // back on the center).
      case Seq("publish-sectors", catalogPath, names, sfDir, servicePath) =>
        val t = Tables(spark, sfDir)
        val mode = publishMode("initial")
        val geom = opt.get("geom").map(_.split(",", 2) match {
          case Array(xc, yc) if yc.nonEmpty => (xc, yc)
          case g => throw new IllegalArgumentException(s"--geom expects xCol,yCol (got '${g.mkString(",")}')")
        })
        val square = opt.get("square").map(_.split(",", 3) match {
          case Array(xc, yc, h) => (xc, yc, h.toDouble)
          case g => throw new IllegalArgumentException(s"--square expects xCol,yCol,halfWidth (got '${g.mkString(",")}')")
        })
        val bundles = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
          val cfg = loadEntry(spark, catalogPath, n)
          val placesRaw = OvertureReader.read(t, ReadRequest(cfg.theme, filter = cfg.filter))
          val places = geom.fold(placesRaw) { case (xc, yc) =>
            placesRaw
              .withColumn("x", col(xc).cast("double"))
              .withColumn("y", col(yc).cast("double"))
          }
          val bTheme = cfg.buildingTheme.getOrElse(cfg.theme)
          val bRaw = OvertureReader.read(t, ReadRequest(bTheme, filter = cfg.buildingFilter))
          val buildings = square.fold(bRaw) { case (xc, yc, h) =>
            val cx = col(xc).cast("double")
            val cy = col(yc).cast("double")
            bRaw.withColumn("ring", org.apache.spark.sql.functions.array(
              org.apache.spark.sql.functions.struct((cx - h).as("x"), (cy - h).as("y")),
              org.apache.spark.sql.functions.struct((cx + h).as("x"), (cy - h).as("y")),
              org.apache.spark.sql.functions.struct((cx + h).as("x"), (cy + h).as("y")),
              org.apache.spark.sql.functions.struct((cx - h).as("x"), (cy + h).as("y"))))
          }
          SectorService.SectorBundle(n, places, buildings,
            ringCol = if (square.isDefined) Some("ring") else None)
        }
        val layers = SectorService.publishSectors(servicePath, bundles, mode)
        println(s"[sectors] published ${layers.size} layers -> $servicePath: ${layers.mkString(", ")}")

      // Run any REGISTERED operator query (SURVEY §2 row) over an
      // sf dir and write the result — the one-command path to every
      // engine capability, not just the catalog pipelines.
      case Seq("run", name, sfDir, outPath) =>
        // Validate BOTH inputs before running: some registry queries
        // (streaming rows, checkpointed pipelines) execute eagerly.
        val fmt = ExportFormat.fromPath(outPath) match {
          case f @ (ExportFormat.Parquet | ExportFormat.Csv | ExportFormat.Json) => f
          case other => throw new IllegalArgumentException(
            s"run writes tabular results — use .parquet, .csv or .jsonl (got $other)")
        }
        val q = try SparkEntry.select(Seq(name)).head
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalArgumentException(s"no registered query '$name' (see list-registry)")
        }
        Exporter.write(q.fn(Tables(spark, sfDir)), outPath, fmt)
        println(s"[cli] wrote $name -> $outPath")

      case Seq("list-registry") =>
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)

      case Seq("list-queries", catalogPath) =>
        QueryConfig.catalog(spark, catalogPath).values.toSeq
          .sortBy(_.name)
          .foreach(q => println(s"${q.name}\ttheme=${q.theme}\ttype=${q.typeName}" +
            q.filter.fold("")(f => s"\tfilter=$f")))

      case Seq("list-cache", cachePath) =>
        val cache = new CountryCache(spark, cachePath)
        cache.list()
          .sortBy(k => (k.release, k.country, k.theme, k.typeName))
          .foreach(k => println(s"${k.release}\t${k.country}\t${k.theme}\t${k.typeName}"))
        // aggregate stats footer (reference source.py:1642
        // `get_cache_stats`): per-release counts + bytes, then totals
        val st = cache.stats()
        st.perRelease.foreach { case (r, n, b) =>
          println(s"[cache-stats] release=$r entries=$n bytes=$b")
        }
        println(s"[cache-stats] releases=${st.releases} countries=${st.countries} " +
          s"entries=${st.entries} total_bytes=${st.totalBytes}")

      case Seq("clear-cache", cachePath, release, country, theme, typeName) =>
        val ok = new CountryCache(spark, cachePath)
          .clear(CacheKey(country, theme, typeName, release))
        println(if (ok) "cleared" else "not found")

      // Dump management (reference cli.py:1423 `overture-dump` over
      // source.py:1092/:1235/:1265): pin a theme from the upstream
      // lake (the sf dir) under a release directory. `theme` here is
      // a table name — the release dir is sf-dir-shaped, so ANY
      // registry/ref query runs against it once its tables are
      // ensured (pass the printed release dir as sfDir).
      case Seq("ensure-dump", sfDir, dumpBase, theme, releaseSpec) =>
        val known = Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        if (!known.contains(theme))
          throw new IllegalArgumentException(
            s"unknown theme '$theme' (have: ${known.mkString(", ")})")
        val store = new graft.sources.DumpStore(spark, dumpBase)
        // `latest` resolves like the reference's catalog probe
        // (settings.py:45), served from local state: catalog.json pin
        // first, else the newest complete release already in the store.
        val release = try store.resolveRelease(releaseSpec) catch {
          case e: graft.GraftError => throw graft.GraftError.enrich(e,
            Map("theme" -> theme, "command" -> "ensure-dump"))
        }
        val had = store.exists(release, theme)
        val path = try store.ensure(release, theme, date, force = opt.contains("force")) {
          Tables(spark, sfDir).table(theme)
        } catch {
          case e: graft.GraftError => throw graft.GraftError.enrich(e,
            Map("command" -> "ensure-dump"))
        }
        println(s"[dump] ${if (had && !opt.contains("force")) "exists" else "ensured"} " +
          s"$theme@$release -> $path (serve dir: ${store.releaseDir(release)})")

      case Seq("list-dumps", dumpBase) =>
        new graft.sources.DumpStore(spark, dumpBase).list()
          .foreach(e => println(s"${e.release}\t${e.theme}\t${e.rows}\t${e.ensuredAt}"))

      case Seq("delete-dump", dumpBase, theme, releaseSpec) =>
        val store = new graft.sources.DumpStore(spark, dumpBase)
        val ok = store.delete(store.resolveRelease(releaseSpec), theme)
        println(if (ok) "deleted" else "not found")

      // Lake hygiene (M15): rewrite a parquet dir at the byte-planned
      // file count. Target size in MB (default 128).
      case Seq("compact", inDir, outDir) =>
        val targetMb = opt.get("target-mb").map(_.toLong).getOrElse(128L)
        val (planned, inFiles) = graft.`export`.Compactor.compact(
          spark, inDir, outDir, targetBytes = targetMb * 1024 * 1024)
        println(s"[compact] $inFiles -> $planned files @ ${targetMb}MB target -> $outDir")

      case Seq("cleanup", servicePath, keepList) =>
        val report = FeatureService.cleanup(spark, servicePath,
          keep = keepList.split(",").map(_.trim).filter(_.nonEmpty).toSet,
          dryRun = opt.contains("dry-run"))
        println(s"recovered=${report.recovered.mkString(",")} " +
          s"removed=${report.orphansRemoved.mkString(",")} kept=${report.kept.mkString(",")}")

      case Seq("version") =>
        println(s"graft $Version (spark ${spark.version})")

      case other =>
        throw new IllegalArgumentException(
          s"unknown command: ${other.mkString(" ")} — see Cli scaladoc for usage")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.fromEnv("graft-cli")
    try run(spark, args.toIndexedSeq)
    finally spark.stop()
  }
}
