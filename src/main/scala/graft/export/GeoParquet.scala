package graft.`export`

import graft.config.JsonConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Wkb

/** GeoParquet writer (public spec, geoparquet.org v1.1.0; reference
  * export.py routes geo formats through GDAL — this is the
  * Overture-native interchange format the reference ecosystem reads
  * and writes). Unlike the single-file GPKG/GeoJSON paths (driver
  * -streamed by format necessity), this is the DISTRIBUTED export:
  * every partition writes its own parquet part file through
  * parquet-hadoop's `ParquetWriter`, each footer carrying the `geo`
  * key-value metadata (version, primary column, WKB encoding,
  * observed geometry types, global bbox) that makes the file set
  * GeoParquet rather than parquet-with-bytes.
  *
  * Scale shape: one bounded aggregation pre-pass computes the bbox +
  * geometry-type set (map-side combine over exploded vertices; the
  * collected state is 4 doubles + ≤7 ints), then the write is
  * map-only — geometry bytes never shuffle and never visit the
  * driver. CRS handling: coordinates are written as-is and the
  * `crs` field is omitted, which the spec defines as OGC:CRS84 —
  * matching the engine's lon/lat convention (B13 `tr_reproject`
  * handles datum shifts upstream).
  */
object GeoParquet {

  /** Summary of a finished write (one row per part file). */
  final case class WriteResult(
      files: Seq[String],
      rows: Long,
      bbox: (Double, Double, Double, Double),
      geometryTypes: Seq[String],
      geoJson: String)

  private val TypeNames = Map(
    1 -> "Point", 2 -> "LineString", 3 -> "Polygon", 4 -> "MultiPoint",
    5 -> "MultiLineString", 6 -> "MultiPolygon", 7 -> "GeometryCollection")

  /** Write `df` as GeoParquet into directory `path`. `wkbCol` must
    * be a binary WKB column; it is written under its own name and
    * declared as the primary geometry column. Rows with null
    * geometry are written with a null geometry cell (legal per
    * spec; they simply don't contribute to bbox/types).
    */
  def write(df: DataFrame, wkbCol: String, path: String): WriteResult = {
    Writers.wkbColumn(df.schema, wkbCol, "geoparquet")

    // Bounded pre-pass: global bbox over every vertex + the distinct
    // geometry-type set, one map-side-combining aggregation.
    val statsRow = df
      .select(Wkb.wkbGeometryType(col(wkbCol)).as("gt"),
        explode_outer(Wkb.wkbCoords(col(wkbCol))).as("p"))
      .agg(
        collect_set(col("gt")).as("types"),
        min(col("p.x")).as("xmin"), min(col("p.y")).as("ymin"),
        max(col("p.x")).as("xmax"), max(col("p.y")).as("ymax"),
        count(lit(1)).as("n"))
      .head()
    val typeIds = statsRow.getAs[scala.collection.Seq[Int]](0).sorted
    val geomTypes = typeIds.flatMap(TypeNames.get).toSeq
    val bbox =
      if (statsRow.isNullAt(1)) (0.0, 0.0, 0.0, 0.0)
      else (statsRow.getDouble(1), statsRow.getDouble(2),
        statsRow.getDouble(3), statsRow.getDouble(4))

    val geoJson = geoMetadataJson(wkbCol, geomTypes, bbox)
    val schema = df.schema

    // Distributed part-file write: Hadoop FS API end-to-end, so the
    // same code path targets file://, hdfs://, s3a://. The session's
    // Hadoop conf (spark.hadoop.* settings) reaches every task.
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val taskConf = org.apache.spark.sql.GraftBridge.taskHadoopConf(df.sparkSession)
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(hconf)
    if (fs.exists(dirPath)) fs.delete(dirPath, true)
    fs.mkdirs(dirPath)

    val written = df.rdd.mapPartitionsWithIndex { (idx, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val file = f"part-$idx%05d.parquet"
        val n = writePart(schema, wkbCol, geoJson, s"$path/$file", taskConf(), it)
        Iterator.single((file, n))
      }
    }.collect() // bounded: one (name, count) pair per partition

    WriteResult(written.map(_._1).toSeq.sorted, written.map(_._2).sum, bbox,
      geomTypes, geoJson)
  }

  /** The `geo` footer value, built to the v1.1.0 layout. */
  private[export] def geoMetadataJson(
      primary: String,
      geomTypes: Seq[String],
      bbox: (Double, Double, Double, Double)): String = {
    val types = geomTypes.map(JsonConfig.quote).mkString("[", ", ", "]")
    s"""{"version": "1.1.0", "primary_column": ${JsonConfig.quote(primary)}, """ +
      s""""columns": {${JsonConfig.quote(primary)}: {"encoding": "WKB", """ +
      s""""geometry_types": $types, """ +
      s""""bbox": [${bbox._1}, ${bbox._2}, ${bbox._3}, ${bbox._4}]}}}"""
  }

  /** Map a (flat) Spark schema onto a parquet MessageType. */
  private[export] def parquetSchema(schema: StructType): org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep =
        if (f.nullable) Type.Repetition.OPTIONAL
        else Type.Repetition.REQUIRED
      f.dataType match {
        case LongType | TimestampType | TimestampNTZType =>
          b.addField(Types.primitive(INT64, rep).named(f.name))
        case IntegerType | ShortType | ByteType | DateType =>
          b.addField(Types.primitive(INT32, rep).named(f.name))
        case DoubleType =>
          b.addField(Types.primitive(DOUBLE, rep).named(f.name))
        case FloatType =>
          b.addField(Types.primitive(FLOAT, rep).named(f.name))
        case BooleanType =>
          b.addField(Types.primitive(BOOLEAN, rep).named(f.name))
        case StringType =>
          b.addField(Types.primitive(BINARY, rep)
            .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case BinaryType =>
          b.addField(Types.primitive(BINARY, rep).named(f.name))
        case other => throw new graft.ExportError(
          s"GeoParquet export does not support column type ${other.simpleString}",
          Map("format" -> "geoparquet", "stage" -> "export", "column" -> f.name))
      }
    }
    b.named("spark_schema")
  }

  /** Executor-side: stream one partition into one part file whose
    * footer carries the `geo` metadata. Returns the row count.
    */
  private def writePart(
      schema: StructType,
      wkbCol: String,
      geoJson: String,
      file: String,
      conf: org.apache.hadoop.conf.Configuration,
      it: Iterator[org.apache.spark.sql.Row]): Long = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.api.Binary

    val msgType = parquetSchema(schema)
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val extra = new java.util.HashMap[String, String]()
    extra.put("geo", geoJson)
    val writer = ExampleParquetWriter.builder(out)
      .withType(msgType)
      .withExtraMetaData(extra)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(msgType)
    var n = 0L
    try {
      while (it.hasNext) {
        val row = it.next()
        val g = factory.newGroup()
        var i = 0
        while (i < schema.length) {
          if (!row.isNullAt(i)) {
            val name = schema(i).name
            schema(i).dataType match {
              case LongType      => g.add(name, row.getLong(i))
              case IntegerType   => g.add(name, row.getInt(i))
              case ShortType     => g.add(name, row.getShort(i).toInt)
              case ByteType      => g.add(name, row.getByte(i).toInt)
              case DoubleType    => g.add(name, row.getDouble(i))
              case FloatType     => g.add(name, row.getFloat(i))
              case BooleanType   => g.add(name, row.getBoolean(i))
              case StringType    => g.add(name, Binary.fromString(row.getString(i)))
              case BinaryType    =>
                g.add(name, Binary.fromConstantByteArray(row.getAs[Array[Byte]](i)))
              case DateType      => g.add(name, row.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
              case TimestampType | TimestampNTZType => g.add(name, DateTimeUtils.anyToMicros(row.get(i)))
              case other => throw new graft.ExportError(
                s"unsupported type ${other.simpleString}",
                Map("format" -> "geoparquet", "column" -> name))
            }
          }
          i += 1
        }
        writer.write(g)
        n += 1
      }
    } finally writer.close()
    n
  }

  /** Read back the `geo` footer metadata of one part file (or the
    * first part of a directory). None if the file carries no key —
    * i.e. it is plain parquet, not GeoParquet.
    */
  def geoMetadata(path: String): Option[String] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val target =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))
          .sortBy(_.getName).headOption.getOrElse(
            throw new graft.ExportError(s"no parquet parts under $path",
              Map("format" -> "geoparquet")))
      else p
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(target, conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get("geo"))
    finally reader.close()
  }
}
