package graft.`export`

import org.apache.spark.sql.{Column, DataFrame}

/** Export formats (reference: src/o2agol/domain/enums.py:33-38 +
  * export.py format routing). GPKG/FGDB require GDAL/sqlite
  * drivers that do not exist in this environment; they fail
  * explicitly rather than pretending (SURVEY §6 documented gap).
  */
object ExportFormat extends Enumeration {
  val GeoJson, GeoJsonSeq, Parquet, Csv, Json, Gpkg, Fgdb, GeoParquetFmt, Shp, Fgb = Value

  /** Each format's file extension. Tabular JSON uses .jsonl (what
    * Spark's json writer emits), keeping the filename ↔ format
    * round-trip unambiguous.
    */
  val extension: Map[Value, String] = Map(
    GeoJson -> "geojson", GeoJsonSeq -> "geojsonseq", Parquet -> "parquet", Csv -> "csv",
    Json -> "jsonl", Gpkg -> "gpkg", Fgdb -> "gdb", GeoParquetFmt -> "geoparquet",
    Shp -> "shp", Fgb -> "fgb")

  // .json → GeoJson mirrors the reference (export.py:48-49)
  private val byExtension = extension.map(_.swap) ++ Map("json" -> GeoJson, "fgdb" -> Fgdb)

  /** Infer from a file extension (reference export.py:45-55). */
  def fromPath(path: String): ExportFormat.Value = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    byExtension.getOrElse(ext, throw new graft.ExportError(
      s"unknown export extension: $ext",
      Map("format" -> ext, "stage" -> "export")))
  }
}

/** Multi-format exporter (reference: export.py `Exporter.write` /
  * `export_data`). Geometry-bearing formats take the serialized
  * geometry column; tabular formats write the frame as-is.
  */
object Exporter {

  /** Typed seam (reference errors.py ExportError): driver errors,
    * missing geometry columns and writer failures surface with
    * {path, format, stage} context.
    */
  private def typed(path: String, format: ExportFormat.Value)(body: => Unit): Unit =
    try body catch {
      case e: graft.GraftError => throw e
      case scala.util.control.NonFatal(e) =>
        throw new graft.ExportError(
          s"export failed: ${e.getMessage}",
          Map("path" -> path, "format" -> format.toString, "stage" -> "export"), e)
    }

  def write(
      df: DataFrame,
      path: String,
      format: ExportFormat.Value,
      geometryJson: Option[Column] = None,
      target: String = "features",
      generatedAt: String = "1970-01-01T00:00:00",
      geometryWkb: Option[Column] = None,
      raw: Boolean = false
  ): Unit = {
    // A capability statement, not a failure of an attempted export:
    // it stays outside the typed seam.
    if (format == ExportFormat.Fgdb)
      throw new UnsupportedOperationException(
        s"$format is a proprietary ESRI container with no public spec; " +
          "unsupported by design (documented in SURVEY.md §6)")
    def geometry(column: Option[Column], param: String): Column = column.getOrElse(
      throw new IllegalArgumentException(s"$format export needs a geometry column ($param)"))
    def wkb(name: String): DataFrame = df.withColumn(name, geometry(geometryWkb, "geometryWkb"))
    typed(path, format) { format match {
      case ExportFormat.GeoJson =>
        GeoJson.writeFeatureCollection(df, geometry(geometryJson, "geometryJson"), path, target,
          generatedAt, rawExport = raw)
      case ExportFormat.GeoJsonSeq =>
        GeoJson.writeSeq(df, geometry(geometryJson, "geometryJson"), path)
      case ExportFormat.Parquet => df.write.mode("overwrite").parquet(path)
      case ExportFormat.Csv =>
        df.write.mode("overwrite").option("header", "true").csv(path)
      case ExportFormat.Json => df.write.mode("overwrite").json(path)
      case ExportFormat.Gpkg =>
        // Self-contained GeoPackage (no GDAL/sqlite dependency): the
        // pure-JVM SQLite writer in Gpkg.scala — the reference CLI's
        // default format (cli.py:1163).
        Gpkg.write(wkb("geom"), path, target)
      case ExportFormat.GeoParquetFmt =>
        // Distributed geo export (public GeoParquet v1.1.0 spec) —
        // the scale path the single-file GPKG/GeoJSON writers defer
        // huge exports to.
        GeoParquet.write(wkb("geometry"), "geometry", path)
      case ExportFormat.Shp =>
        // Pure-JVM ESRI Shapefile (public 1998 spec) — the reference's
        // 'shp' direct-export route (source.py:626). Single-file
        // format ⇒ driver-streamed (the GPKG convention). The
        // extension is stripped case-insensitively to the sidecar-set
        // basename — fromPath routes LAYER.SHP here too, and the
        // sidecar set must not be named LAYER.SHP.shp/.shx/.dbf.
        Shapefile.write(wkb("geom"), "geom",
          if (path.toLowerCase.endsWith(".shp")) path.dropRight(4) else path)
      case ExportFormat.Fgb =>
        // FlatGeobuf (public spec, real flatbuffers runtime) — the
        // reference's 'fgb' direct-export route (source.py:631).
        FlatGeobuf.write(wkb("geom"), "geom", path)
    } }
  }

  /** Multi-layer single-file GeoPackage — the reference's multilayer
    * GPKG route (export.py:80 "GPKG: Single file with layers";
    * export.py:337-344): a keyed set of frames (e.g. education =
    * places + buildings) lands as N layers of ONE .gpkg, each table
    * named `{target}_{layerName}` — or just `layerName` when
    * `raw = true`, matching the reference's raw_export naming. Every
    * layer frame must already carry a BINARY WKB column named
    * `geom` (each layer usually derives its geometry differently,
    * so a single shared Column expression would be wrong here).
    */
  def writeGpkgLayers(
      data: Seq[(String, DataFrame)],
      path: String,
      target: String,
      raw: Boolean = false
  ): Unit = typed(path, ExportFormat.Gpkg) {
    require(data.nonEmpty, "GPKG multilayer export needs at least one layer")
    val layers = data.map { case (layerName, df) =>
      Gpkg.Layer(df, if (raw) layerName else s"${target}_$layerName")
    }
    Gpkg.writeLayers(layers, path)
  }

  /** Multi-layer GeoJSON — the reference's dict route for the
    * GEOJSON format (export.py:266-296): one combined
    * FeatureCollection, each feature tagged with its `layer` name
    * (names pass through untouched — unlike GPKG/FGDB the reference
    * does not prefix GeoJSON layer ids), per-layer counts +
    * total_count in the metadata block.
    */
  def writeGeoJsonLayers(
      data: Seq[(String, DataFrame, Column)],
      path: String,
      target: String,
      generatedAt: String = "1970-01-01T00:00:00",
      raw: Boolean = false
  ): Unit = typed(path, ExportFormat.GeoJson) {
    GeoJson.writeFeatureCollectionLayers(data, path, target, generatedAt, raw)
  }

  /** Incremental partitioned export with DYNAMIC partition
    * overwrite: only the partitions present in `df` are replaced;
    * every other partition of the target survives untouched. This
    * is the incremental-publish write shape (reference publish.py
    * truncate-and-append per layer, generalized to keyed
    * partitions): a 100 TB lake refreshes one country/day partition
    * without rewriting — or even listing — the rest. The mode rides
    * as a per-write OPTION (it takes precedence over the session
    * conf, SPARK-25556), so concurrent writes on one session can
    * never observe each other's mode or leak it.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Default export filename (reference: export.py:468-511
    * `generate_export_filename`): `<iso3>_<query>[_raw].<ext>`.
    */
  def exportFilename(
      query: String,
      iso3: String,
      format: ExportFormat.Value,
      raw: Boolean = false
  ): String = {
    val suffix = if (raw) "_raw" else ""
    s"${iso3.toLowerCase}_$query$suffix.${ExportFormat.extension(format)}"
  }
}
