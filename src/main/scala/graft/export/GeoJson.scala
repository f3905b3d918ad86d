package graft.`export`

import graft.config.JsonConfig
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GeoJSON writers (reference: src/o2agol/pipeline/export.py:255-325
  * `_export_to_geojson`).
  *
  * Scale posture: the newline-delimited variant (GeoJSONSeq) is the
  * 100 TB path — a fully distributed text write of one feature per
  * line. The single-file FeatureCollection (what the reference
  * emits) is inherently one file; it streams partitions through the
  * driver with `toLocalIterator` (constant driver memory, explicit
  * single-writer bottleneck by format definition).
  */
object GeoJson {

  /** Point-geometry builder from coordinate columns. */
  def pointGeometry(x: Column, y: Column): Column =
    to_json(struct(lit("Point").as("type"), array(x, y).as("coordinates")))

  /** One GeoJSON Feature per row: geometry from `geometryJson`
    * (already-serialized geometry JSON), all other columns as
    * properties.
    */
  def featureColumn(df: DataFrame, geometryJson: Column): Column = {
    val props = struct(df.columns.map(col).toIndexedSeq: _*)
    concat(
      lit("""{"type":"Feature","properties":"""),
      to_json(props),
      lit(""","geometry":"""),
      // GeoJSON permits null geometry; without the coalesce a null
      // geometry column nulls the whole concat and the writers choke.
      coalesce(geometryJson, lit("null")),
      lit("}"))
  }

  /** Distributed newline-delimited GeoJSON (GeoJSONSeq — the
    * reference's `geojsonseq` GDAL driver, source.py:624).
    */
  def writeSeq(df: DataFrame, geometryJson: Column, path: String): Unit =
    df.select(featureColumn(df, geometryJson).as("value"))
      .write.mode("overwrite").text(path)

  /** Single-file FeatureCollection with the reference's metadata
    * block (generated/source/target/count). Deterministic: caller
    * supplies the timestamp.
    */
  def writeFeatureCollection(
      df: DataFrame,
      geometryJson: Column,
      path: String,
      target: String,
      generatedAt: String,
      rawExport: Boolean = false
  ): Unit = writeCollection(Seq((None, df, geometryJson)), path, target, generatedAt, rawExport)

  /** Multi-layer single-file FeatureCollection — the reference's
    * dict route (export.py:266-296): all layers' features combine
    * into ONE collection, each feature's properties gain a `layer`
    * identifier, and the metadata block carries per-layer counts
    * (`layers`) plus `total_count` instead of the single-layer
    * `count`. Each layer brings its own geometry expression (layer
    * schemas differ, so one shared Column would be wrong — the
    * `writeGpkgLayers` convention).
    */
  def writeFeatureCollectionLayers(
      layers: Seq[(String, DataFrame, Column)],
      path: String,
      target: String,
      generatedAt: String,
      rawExport: Boolean = false
  ): Unit = {
    require(layers.nonEmpty, "GeoJSON multilayer export needs at least one layer")
    require(layers.map(_._1).distinct.size == layers.size,
      s"GeoJSON: duplicate layer names in ${layers.map(_._1)}")
    // The layer id is injected as a property below; a pre-existing
    // `layer` column would be silently overwritten (corrupting that
    // property), so refuse up front rather than fork behavior.
    layers.foreach { case (name, df, _) =>
      require(!df.columns.contains("layer"),
        s"GeoJSON multilayer: layer '$name' already has a 'layer' column — " +
          "rename it before export (the writer injects the layer id there)")
    }
    writeCollection(layers.map { case (name, df, g) => (Some(name), df, g) },
      path, target, generatedAt, rawExport)
  }

  /** Stream every layer's features into one FeatureCollection. A
    * named layer tags each feature's `layer` property and the
    * metadata block counts per layer; the one unnamed layer gets the
    * single-layer `count`.
    */
  private def writeCollection(
      layers: Seq[(Option[String], DataFrame, Column)],
      path: String,
      target: String,
      generatedAt: String,
      rawExport: Boolean
  ): Unit = {
    val spark = layers.head._2.sparkSession
    val fs = FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new HPath(path), true)
    val writer = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 20)
    try {
      writer.write("""{"type":"FeatureCollection","features":[""")
      var first = true
      val counts = layers.map { case (name, df, geometryJson) =>
        // the layer id rides as a property of every feature,
        // exactly as the reference injects it post-serialization
        val tagged = name.fold(df)(n => df.withColumn("layer", lit(n)))
        val features = tagged.select(featureColumn(tagged, geometryJson).as("value"))
        var count = 0L
        val it = features.toLocalIterator()
        while (it.hasNext) {
          if (!first) writer.write(",")
          writer.write(it.next().getString(0))
          first = false
          count += 1
        }
        name -> count
      }
      val dataType = if (rawExport) "raw_overture" else "normalized"
      // Layer names and target are caller-supplied strings headed
      // into a hand-built JSON document — escape them (a quote in a
      // layer name would otherwise emit an invalid document).
      val tally = counts match {
        case Seq((None, c)) => s""""count":$c"""
        case _ =>
          val layerCounts = counts.collect { case (Some(n), c) => s"${JsonConfig.quote(n)}:$c" }
          s""""layers":{${layerCounts.mkString(",")}},"total_count":${counts.map(_._2).sum}"""
      }
      writer.write(
        s"""],"metadata":{"generated":${JsonConfig.quote(generatedAt)},"source":"graft","target":${JsonConfig.quote(target)},"data_type":"$dataType",$tally}}""")
    } finally writer.close()
  }
}
