package graft.queries

import graft.Tables
import graft.functions.Wkb
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-11 batch: ORACLED EXPORT ROUND TRIPS (verdict ask #4) — the
  * three round-10 geo writers promoted from spec-lane to the
  * correctness gate, in the A18 `src_codec_roundtrip` pattern:
  * write → read BACK through an independent parser → aggregate →
  * oracle against the ORIGINAL table. A writer byte bug (or a
  * reader mis-parse) moves the aggregate off the oracle's fixed
  * point; the DuckDB twin never sees the exported bytes at all.
  *
  *  - GeoParquet (H17): Spark's own parquet reader reads it back —
  *    format interop proven by a second parquet implementation.
  *  - Shapefile (H18): read back by [[graft.sources.ShapefileReader]]
  *    — .shx-driven DISTRIBUTED range reads (the 1998 format's own
  *    row-group economics).
  *  - FlatGeobuf (H19): written WITH the spec's optional packed
  *    Hilbert R-tree (round-11 H19 extension) and read back by
  *    [[graft.sources.FlatGeobufReader]] through the index's leaf
  *    offsets — executor range reads, feature bytes never on the
  *    driver.
  *
  * All three use the same events-derived point layer and the same
  * aggregate, so the oracle SQL is shared: exact-integer sums of
  * 4-dp-scaled coordinates (doubles round-trip bit-exact through
  * every one of these formats) + exact id sums, per event_type.
  *
  * Reference anchor: export.py routes gpq/shp/fgb through GDAL
  * (source.py:626-631); here each format is a pure-JVM writer off
  * the public spec with an independent reader closing the loop.
  */
object Pipeline73 {

  /** The shared point layer: id, class attribute, and a WKB point
    * from (value, props.k) — rows with either coordinate missing are
    * dropped (a WKB point needs both).
    */
  private[queries] def pointLayer(t: Tables): DataFrame =
    t.events.select(
        col("event_id").cast("long").as("event_id"),
        col("event_type"),
        col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .select(col("event_id"), col("event_type"),
        Wkb.wkbFromXY(col("x"), col("y")).as("geometry"))

  /** The shared read-back aggregate: per event_type, exact counts
    * and exact-integer sums of the decoded coordinates and ids.
    */
  private[queries] def roundTripAgg(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("event_type"),
        Wkb.wkbPointXY(col("geometry")).as("p"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("event_id")).as("id_sum"),
        sum(expr("CAST(round(p.x * 10000) AS BIGINT)")).as("x_4dp"),
        sum(expr("CAST(round(p.y * 10000) AS BIGINT)")).as("y_4dp"))

  private[queries] val roundTripSql: String =
    """SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(event_id) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(round(x * 10000) AS BIGINT)) AS BIGINT) AS x_4dp,
      |  CAST(sum(CAST(round(y * 10000) AS BIGINT)) AS BIGINT) AS y_4dp
      |FROM (SELECT event_id, event_type, value AS x,
      |        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |      FROM events)
      |WHERE x IS NOT NULL AND y IS NOT NULL
      |GROUP BY event_type""".stripMargin

  // the written layer is staged once per (session, dir)
  private def stage(t: Tables, kind: String)(
      write: (DataFrame, java.nio.file.Path) => Unit): java.nio.file.Path =
    graft.util.SessionStage.dir(t, s"rt_$kind")(
      write(pointLayer(t), _))

  /** A22 `exp_geoparquet_roundtrip`: distributed GeoParquet write →
    * Spark parquet read-back → aggregate vs the original table.
    */
  def expGeoparquetRoundtrip(t: Tables): DataFrame = {
    val d = stage(t, "gpq") { (df, p) =>
      graft.`export`.GeoParquet.write(df, "geometry", p.resolve("layer").toString)
      ()
    }
    roundTripAgg(Tables.parquet(t.spark, d.resolve("layer").toString))
  }
  val expGeoparquetRoundtripSql: String = roundTripSql

  /** A23 `exp_shapefile_roundtrip`: driver-streamed .shp/.shx/.dbf
    * write → .shx-driven DISTRIBUTED read-back (independent parser)
    * → aggregate. The .dbf carries event_id (N, exact integer) and
    * event_type (C); coordinates live in .shp as LE doubles —
    * bit-exact.
    */
  def expShapefileRoundtrip(t: Tables): DataFrame = {
    val d = stage(t, "shp") { (df, p) =>
      graft.`export`.Shapefile.write(df, "geometry", p.resolve("layer").toString)
      ()
    }
    roundTripAgg(graft.sources.ShapefileReader.read(t.spark, d.resolve("layer").toString))
  }
  val expShapefileRoundtripSql: String = roundTripSql

  /** A24 `exp_fgb_roundtrip`: FlatGeobuf write WITH the packed
    * Hilbert R-tree (node size 16) → index-driven DISTRIBUTED
    * read-back (leaf offsets → executor range reads) → aggregate.
    * Exercises the Hilbert sort, the tree build, and the reader's
    * traversal in one correctness row.
    */
  def expFgbRoundtrip(t: Tables): DataFrame = {
    val d = stage(t, "fgb") { (df, p) =>
      graft.`export`.FlatGeobuf.write(df, "geometry",
        p.resolve("layer.fgb").toString, indexNodeSize = 16)
      ()
    }
    roundTripAgg(graft.sources.FlatGeobufReader.read(t.spark, d.resolve("layer.fgb").toString))
  }
  val expFgbRoundtripSql: String = roundTripSql
}
