package graft.`export`

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Wkb

/** H17 (round 10): GeoParquet writer — the distributed geo export
  * (public geoparquet.org v1.1.0 spec) beside the single-file
  * GPKG/GeoJSON paths. Asserts: real multi-part distributed write,
  * `geo` footer metadata on every part, bbox/geometry_types computed
  * from the data, WKB geometry surviving a Spark read round-trip,
  * and format routing through Exporter.
  */
class GeoParquetSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    s"$d/out"
  }

  private def sampleDf = {
    // 2 points + 1 linestring, known global bbox (-10,-5)..(30,40)
    val pts = Seq((1L, "a", -10.0, -5.0), (2L, "b", 30.0, 7.5))
      .toDF("id", "name", "x", "y")
      .select($"id", $"name", Wkb.wkbFromXY($"x", $"y").as("geom"))
    val line = Seq((3L, "c", Seq((0.0, 40.0), (5.0, 12.0))))
      .toDF("id", "name", "pts")
      .select($"id", $"name",
        Wkb.wkbLineFromCoords(transform($"pts",
          p => struct(p.getField("_1").as("x"), p.getField("_2").as("y")))).as("geom"))
    pts.unionByName(line)
  }

  test("distributed write: every part file carries the geo footer") {
    val out = tmpDir("geoparquet")
    val res = GeoParquet.write(sampleDf.repartition(3), "geom", out)
    assert(res.rows == 3L)
    assert(res.files.nonEmpty)
    assert(res.bbox == ((-10.0, -5.0, 30.0, 40.0)))
    assert(res.geometryTypes == Seq("Point", "LineString"))
    // every part footer, not just the first, must carry `geo`
    res.files.foreach { f =>
      val meta = GeoParquet.geoMetadata(s"$out/$f")
      assert(meta.isDefined, s"part $f missing geo metadata")
      assert(meta.get.contains("\"version\": \"1.1.0\""))
      assert(meta.get.contains("\"primary_column\": \"geom\""))
      assert(meta.get.contains("\"encoding\": \"WKB\""))
      assert(meta.get.contains("\"bbox\": [-10.0, -5.0, 30.0, 40.0]"))
      assert(meta.get.contains("\"geometry_types\": [\"Point\", \"LineString\"]"))
    }
  }

  test("Spark reads the file set back with geometry intact") {
    val out = tmpDir("geoparquet-rt")
    GeoParquet.write(sampleDf.repartition(2), "geom", out)
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.schema("geom").dataType == org.apache.spark.sql.types.BinaryType)
    // decode the round-tripped WKB: point 1 must still be (-10, -5)
    val p = back.filter($"id" === 1L)
      .select(Wkb.wkbPointXY($"geom").as("p")).head().getStruct(0)
    assert(p.getDouble(0) == -10.0 && p.getDouble(1) == -5.0)
    // the linestring survives with both vertices
    val nv = back.filter($"id" === 3L)
      .select(Wkb.wkbNumPoints($"geom")).head().getInt(0)
    assert(nv == 2)
    // strings/longs round-trip through the Group writer too
    assert(back.select("name").as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  test("null geometry rows are written, excluded from bbox/types") {
    val out = tmpDir("geoparquet-null")
    val df = sampleDf.unionByName(
      Seq((4L, "d")).toDF("id", "name").withColumn("geom", lit(null).cast("binary")))
    val res = GeoParquet.write(df, "geom", out)
    assert(res.rows == 4L)
    assert(res.bbox == ((-10.0, -5.0, 30.0, 40.0)))
    val back = spark.read.parquet(out)
    assert(back.filter($"geom".isNull).select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("Exporter routes .geoparquet and demands a geometry column") {
    val out = tmpDir("geoparquet-route")
    assert(ExportFormat.fromPath(s"$out/roads.geoparquet") == ExportFormat.GeoParquetFmt)
    Exporter.write(sampleDf.withColumnRenamed("geom", "wkb"), out,
      ExportFormat.GeoParquetFmt, geometryWkb = Some(col("wkb")))
    val meta = GeoParquet.geoMetadata(out)
    assert(meta.exists(_.contains("\"primary_column\": \"geometry\"")))
    val e = intercept[graft.ExportError](
      Exporter.write(sampleDf.drop("geom"), out, ExportFormat.GeoParquetFmt))
    assert(e.getMessage.contains("geometry column"))
  }

  test("a reference-style query exports through GeoParquet end-to-end") {
    // the J1/C2w shape: testdata-derived point geometries (events
    // coords, the same derivation GeoWkbQueries uses) exported
    // distributed and read back feature-for-feature
    val feats = tables.events
      .select(col("event_id").cast("long").as("id"), col("user_id"),
        col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      .filter(col("y").isNotNull)
      .select(col("id"), col("user_id"),
        Wkb.wkbFromXY(col("x"), col("y")).as("geom"))
    val n = feats.count()
    assert(n > 0)
    val out = tmpDir("geoparquet-ref")
    val res = GeoParquet.write(feats.repartition(4), "geom", out)
    assert(res.rows == n)
    assert(res.geometryTypes == Seq("Point"))
    val back = spark.read.parquet(out)
    assert(back.count() == n)
    // every geometry decodes back to in-bbox coordinates
    val (bxmin, bymin, bxmax, bymax) = res.bbox
    val p = back.select(Wkb.wkbPointXY(col("geom")).as("p"))
      .agg(min(col("p.x")), min(col("p.y")), max(col("p.x")), max(col("p.y"))).head()
    assert(p.getDouble(0) == bxmin && p.getDouble(1) == bymin)
    assert(p.getDouble(2) == bxmax && p.getDouble(3) == bymax)
  }

  test("non-binary geometry column and unsupported types are typed errors") {
    val bad = Seq((1L, "x")).toDF("id", "geom")
    val e = intercept[graft.ExportError](GeoParquet.write(bad, "geom", tmpDir("gp-bad")))
    assert(e.getMessage.contains("must be WKB binary"))
    val arr = sampleDf.withColumn("extra", array(lit(1), lit(2)))
    val e2 = intercept[Exception](GeoParquet.write(arr, "geom", tmpDir("gp-bad2")))
    assert(e2.getMessage.contains("does not support column type") ||
      e2.getCause != null)
  }

  test("the write uses the session's Hadoop conf on the driver and in every task") {
    // A scheme only the session's conf maps to a FileSystem: a fresh
    // Configuration (driver or task) cannot resolve it. The cache is
    // off for it, so a task cannot reuse the driver's instance.
    val scheme = SessionSchemeFs.Scheme
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq(s"fs.$scheme.impl", s"fs.$scheme.impl.disable.cache")
    conf.set(keys(0), classOf[SessionSchemeFs].getName)
    conf.set(keys(1), "true")
    try {
      val local = tmpDir("geoparquet-conf")
      val res = GeoParquet.write(sampleDf.repartition(2), "geom", s"$scheme://$local")
      assert(res.rows == 3L)
      assert(spark.read.parquet(local).count() == 3L)
      assert(res.files.forall(f => GeoParquet.geoMetadata(s"$local/$f").isDefined))
    } finally keys.foreach(conf.unset)
  }
}

/** The local file system under another scheme (see the conf test above). */
class SessionSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SessionSchemeFs.Scheme}:///")
  override def getScheme: String = SessionSchemeFs.Scheme
}

object SessionSchemeFs {
  val Scheme = "graftsessionconf"
}
