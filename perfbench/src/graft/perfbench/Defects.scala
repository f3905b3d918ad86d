package graft.perfbench

import graft.`export`.{ExportFormat, Exporter, GeoJson}
import graft.functions.Wkb
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.util.control.NonFatal

/** Known-defect probe `defect.export_timestamp_ntz`, run outside the
  * timed window on every run:
  *  - a one-row frame with a TIMESTAMP_NTZ column (the type of every
  *    driver-table date) is exported to each geo format; the formats
  *    that throw are listed;
  *  - a TIMESTAMP with microseconds is written to GeoParquet and read
  *    back; a value cut to milliseconds is reported.
  * The result is JSON; it never gates the timings.
  */
object Defects {
  private val Us = 1704164645123456L // 2024-01-02T03:04:05.123456Z

  def probe(spark: SparkSession, dir: Path): String = {
    val ntz = spark.sql(
      "SELECT 1L AS id, 1.5D AS x, 2.5D AS y, TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS t")
    val formats = Seq("geoparquet", "fgb", "gpkg", "shp", "geojson")
    val errors = formats.flatMap { f =>
      val path = Files.createDirectories(dir.resolve(s"ntz_$f")).resolve(s"probe.$f").toString
      try {
        Exporter.write(ntz, path, ExportFormat.fromPath(path),
          geometryJson = Some(GeoJson.pointGeometry(col("x"), col("y"))),
          geometryWkb = Some(Wkb.wkbFromXY(col("x"), col("y"))))
        None
      } catch { case NonFatal(e) => Some(f -> rootCause(e)) }
    }
    val ts = spark.sql(
      "SELECT 1L AS id, 1.5D AS x, 2.5D AS y, TIMESTAMP'2024-01-02 03:04:05.123456' AS t")
    val gp = Files.createDirectories(dir.resolve("ts")).resolve("probe.geoparquet").toString
    val readBack: Either[String, Long] = try {
      Exporter.write(ts, gp, ExportFormat.GeoParquetFmt,
        geometryWkb = Some(Wkb.wkbFromXY(col("x"), col("y"))))
      Right(spark.read.parquet(gp).select(col("t")).head().getLong(0))
    } catch { case NonFatal(e) => Left(rootCause(e)) }
    val truncated = readBack.exists(_ != Us)
    val present = errors.nonEmpty || readBack.isLeft || truncated
    Json.obj(Seq(
      "name" -> Json.str("defect.export_timestamp_ntz"),
      "present" -> present.toString,
      "ntz_failing_formats" -> Json.arr(errors.map(e => Json.str(e._1))),
      "ntz_errors" -> Json.obj(errors.map { case (f, m) => f -> Json.str(m) }),
      "timestamp_written_us" -> Json.num(Us.toDouble),
      "timestamp_read_back" -> readBack.fold(Json.str, v => Json.num(v.toDouble)),
      "timestamp_truncated_to_ms" -> truncated.toString))
  }

  private def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    Runner.describe(c)
  }
}
