package graft.`export`

import graft.SparkSpec
import graft.functions.Wkb
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

/** The GPKG writer is validated two ways: structural assertions on
  * the emitted bytes, and — the real proof — a STOCK sqlite3 (via
  * python3's stdlib, present in this environment) opening the file,
  * running integrity_check, and reading every table back.
  */
class GpkgSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-gpkg").toString

  private def pointsDf(n: Int) = {
    val rows = (1 to n).map { i =>
      (i.toLong, s"feature_$i", i * 1.5, i % 7 == 0,
        Wkb.encodePoint((i * 0.25, -i * 0.5)))
    }
    rows.toDF("fid", "name", "score", "flagged", "geom")
  }

  private def sqliteQuery(db: String, sql: String): Seq[String] = {
    val script =
      s"""import sqlite3
         |con = sqlite3.connect("$db")
         |for row in con.execute(\"\"\"$sql\"\"\"):
         |    print("|".join(str(v) for v in row))
         |""".stripMargin
    val f = Files.createTempFile("gpkg-check", ".py")
    Files.writeString(f, script)
    Process(Seq("python3", f.toString)).!!.linesIterator.toSeq
  }

  test("gpkg file: header magic, GPKG application id, page math") {
    val path = tmp() + "/out.gpkg"
    Gpkg.write(pointsDf(10), path, "pts")
    val bytes = Files.readAllBytes(Paths.get(path))
    assert(new String(bytes.slice(0, 15), "ISO-8859-1") == "SQLite format 3")
    assert(bytes(15) == 0)
    assert(((bytes(16) & 0xFF) << 8 | (bytes(17) & 0xFF)) == 4096)
    assert(new String(bytes.slice(68, 72), "ISO-8859-1") == "GPKG")
    assert(bytes.length % 4096 == 0)
  }

  test("stock sqlite3 reads the GeoPackage: integrity, metadata, features") {
    val path = tmp() + "/out.gpkg"
    Gpkg.write(pointsDf(100), path, "pts")

    assert(sqliteQuery(path, "PRAGMA integrity_check") == Seq("ok"))
    assert(sqliteQuery(path, "PRAGMA application_id") == Seq(BigInt("47504B47", 16).toString))

    val tables = sqliteQuery(path, "SELECT name FROM sqlite_master ORDER BY name")
    assert(tables == Seq("gpkg_contents", "gpkg_geometry_columns", "gpkg_spatial_ref_sys", "pts"))

    assert(sqliteQuery(path,
      "SELECT table_name, data_type, srs_id FROM gpkg_contents") == Seq("pts|features|4326"))
    assert(sqliteQuery(path,
      "SELECT table_name, column_name, geometry_type_name, srs_id, z, m FROM gpkg_geometry_columns")
      == Seq("pts|geom|POINT|4326|0|0"))
    assert(sqliteQuery(path,
      "SELECT srs_id, organization FROM gpkg_spatial_ref_sys ORDER BY srs_id")
      == Seq("-1|NONE", "0|NONE", "4326|EPSG"))

    assert(sqliteQuery(path, "SELECT count(*) FROM pts") == Seq("100"))
    assert(sqliteQuery(path,
      "SELECT fid, name, score, flagged FROM pts WHERE fid IN (1, 7, 100) ORDER BY fid")
      == Seq("1|feature_1|1.5|0", "7|feature_7|10.5|1", "100|feature_100|150.0|0"))
    // geometry blob: GP magic, version 0, LE flags, srs 4326, then WKB
    // point whose coords survive a round trip
    val geomHex = sqliteQuery(path, "SELECT lower(hex(geom)) FROM pts WHERE fid = 4")
    assert(geomHex.head.startsWith("47500001e6100000" + "0101000000"))
    val wkb = geomHex.head.drop(16).grouped(2)
      .map(h => Integer.parseInt(h, 16).toByte).toArray
    val decoded = Seq(wkb).toDF("wkb")
      .select(Wkb.wkbPointXY(col("wkb")).as("p"))
      .select($"p.x", $"p.y").head()
    assert(decoded.getDouble(0) == 1.0 && decoded.getDouble(1) == -2.0)
  }

  test("multi-page b-tree: enough rows to force interior pages, plus overflow payloads") {
    val path = tmp() + "/big.gpkg"
    // ~3000 rows ≈ dozens of leaf pages → at least one interior level;
    // a fat text column on some rows exercises the overflow chain.
    val rows = (1 to 3000).map { i =>
      val pad = if (i % 100 == 0) "x" * 9000 else s"row_$i"
      (i.toLong, pad, Wkb.encodePoint((i * 1.0, i * 2.0)))
    }
    Gpkg.write(rows.toDF("fid", "payload", "geom"), path, "big")

    assert(sqliteQuery(path, "PRAGMA integrity_check") == Seq("ok"))
    assert(sqliteQuery(path, "SELECT count(*) FROM big") == Seq("3000"))
    assert(sqliteQuery(path, "SELECT length(payload) FROM big WHERE fid = 200") == Seq("9000"))
    assert(sqliteQuery(path, "SELECT payload FROM big WHERE fid = 1501") == Seq("row_1501"))
    // rowid lookups hit the interior-page path
    assert(sqliteQuery(path, "SELECT fid FROM big WHERE rowid = 2999") == Seq("2999"))
  }

  test("unsorted fid input is sorted for the rowid b-tree; duplicate fids fail fast") {
    val path = tmp() + "/sorted.gpkg"
    // deliberately shuffled fids — write must globally sort them
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b"))
      .map { case (i, s) => (i, s, Wkb.encodePoint((i * 1.0, 0.0))) }
      .toDF("fid", "name", "geom")
    Gpkg.write(df, path, "t")
    assert(sqliteQuery(path, "PRAGMA integrity_check") == Seq("ok"))
    assert(sqliteQuery(path, "SELECT fid, name FROM t ORDER BY fid")
      == Seq("1|a", "2|b", "3|c"))
    assert(sqliteQuery(path, "SELECT name FROM t WHERE fid = 2") == Seq("b"))

    val dup = Seq((1L, "a"), (1L, "b"))
      .map { case (i, s) => (i, s, Wkb.encodePoint((0.0, 0.0))) }
      .toDF("fid", "name", "geom")
    val err = intercept[IllegalArgumentException] {
      Gpkg.write(dup, tmp() + "/dup.gpkg", "t")
    }
    assert(err.getMessage.contains("strictly ascending"))
  }

  test("a failed write closes its file and leaves nothing at the target") {
    val path = tmp() + "/dup.gpkg"
    val dup = Seq((1L, "a"), (1L, "b"))
      .map { case (i, s) => (i, s, Wkb.encodePoint((0.0, 0.0))) }
      .toDF("fid", "name", "geom")
    intercept[IllegalArgumentException](Gpkg.write(dup, path, "t"))
    assert(!Files.exists(Paths.get(path)))
    val fds = Files.list(Paths.get("/proc/self/fd"))
    val open = try fds.iterator.asScala.flatMap(fd => scala.util.Try(Files.readSymbolicLink(fd)).toOption)
      .filter(_.toString == path).size finally fds.close()
    assert(open == 0, s"$open descriptors still open on $path")
  }

  test("narrow integral fid is widened to rowid; non-integral fid is rejected") {
    val path = tmp() + "/intfid.gpkg"
    // IntegerType fid — the widening path must feed the iterator, not
    // just the schema check (regression: widened frame was discarded)
    val df = Seq((30, "c"), (10, "a"), (20, "b"))
      .map { case (i, s) => (i, s, Wkb.encodePoint((i * 1.0, 0.0))) }
      .toDF("fid", "name", "geom")
    Gpkg.write(df, path, "t")
    assert(sqliteQuery(path, "PRAGMA integrity_check") == Seq("ok"))
    assert(sqliteQuery(path, "SELECT rowid, fid, name FROM t ORDER BY rowid")
      == Seq("10|10|a", "20|20|b", "30|30|c"))

    val bad = Seq(("x1", "a")).map { case (i, s) => (i, s, Wkb.encodePoint((0.0, 0.0))) }
      .toDF("fid", "name", "geom")
    val err = intercept[IllegalArgumentException] {
      Gpkg.write(bad, tmp() + "/badfid.gpkg", "t")
    }
    assert(err.getMessage.contains("integral"))
  }

  test("null handling and fid-less frames") {
    val path = tmp() + "/nulls.gpkg"
    val df = Seq(
      (Some("a"), Some(1.0), Some(Wkb.encodePoint((1.0, 2.0)))),
      (None, None, None)
    ).toDF("name", "score", "geom")
    Gpkg.write(df, path, "t")
    assert(sqliteQuery(path, "PRAGMA integrity_check") == Seq("ok"))
    // no fid column -> row numbers become rowids; nulls stay null
    assert(sqliteQuery(path, "SELECT fid, name, score FROM t ORDER BY fid")
      == Seq("1|a|1.0", "2|None|None"))
    assert(sqliteQuery(path, "SELECT count(*) FROM t WHERE geom IS NULL") == Seq("1"))
  }

  test("geometry_type_name is read from the data: line, polygon, mixed and empty layers") {
    val pts = Seq((1L, Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0)))).toDF("fid", "pts")
    val coords = transform($"pts", p => struct(p.getField("_1").as("x"), p.getField("_2").as("y")))
    val lines = pts.select($"fid", Wkb.wkbLineFromCoords(coords).as("geom"))
    val mixed = lines.union(Seq((2L, Wkb.encodePoint((1.0, 2.0)))).toDF("fid", "geom"))
    val want = Seq("lines" -> "LINESTRING", "polys" -> "POLYGON", "mixed" -> "GEOMETRY",
      "empty" -> "GEOMETRY")
    val path = tmp() + "/types.gpkg"
    Gpkg.writeLayers(Seq(
      Gpkg.Layer(lines, "lines"),
      Gpkg.Layer(pts.select($"fid", Wkb.wkbPolygonFromCoords(coords).as("geom")), "polys"),
      Gpkg.Layer(mixed, "mixed"),
      Gpkg.Layer(lines.limit(0), "empty")), path)
    assert(sqliteQuery(path, "PRAGMA integrity_check") == Seq("ok"))
    assert(sqliteQuery(path,
      "SELECT table_name, geometry_type_name FROM gpkg_geometry_columns ORDER BY rowid")
      == want.map { case (t, g) => s"$t|$g" })
    // each feature table's DDL declares the same type
    want.foreach { case (t, g) =>
      assert(sqliteQuery(path, s"SELECT type FROM pragma_table_info('$t') WHERE name = 'geom'")
        == Seq(g), t)
    }
  }

  // ---- round 11: independent GpkgReader (sources) ----

  test("GpkgReader round-trips attributes, nulls, fid rowids and geometry") {
    val path = tmp() + "/reader.gpkg"
    val df = Seq(
      (10L, "alpha", Some(2.5), -10.5, -5.25),
      (20L, null.asInstanceOf[String], Some(-0.125), 30.0, 40.0),
      (30L, "gamma", None, 0.0, 0.0))
      .toDF("fid", "name", "score", "x", "y")
      .select($"fid", $"name", $"score", Wkb.wkbFromXY($"x", $"y").as("geom"))
    Gpkg.write(df, path, "layer")
    val back = graft.sources.GpkgReader.readFeatures(spark, path, "layer")
      .select($"fid", $"name", $"score", Wkb.wkbPointXY($"geom").as("p"))
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getStruct(3).getDouble(0), r.getStruct(3).getDouble(1)))
      .sortBy(_._1)
    assert(back.toSeq == Seq(
      (10L, Some("alpha"), Some(2.5), -10.5, -5.25),
      (20L, None, Some(-0.125), 30.0, 40.0),
      (30L, Some("gamma"), None, 0.0, 0.0)))
  }

  test("GpkgReader decodes multi-page b-trees and overflow payloads") {
    val path = tmp() + "/reader-big.gpkg"
    val n = 3000
    val big = "x" * 6000 // payload > one 4096 page -> overflow chain
    val df = (1 to n).map(i =>
        (i.toLong, if (i % 100 == 0) big else s"s_$i",
          Wkb.encodePoint((i * 1.0, i * 2.0))))
      .toDF("fid", "name", "geom")
    Gpkg.write(df, path, "layer")
    val back = graft.sources.GpkgReader.readFeatures(spark, path, "layer")
    assert(back.count() == n)
    val row = back.filter($"fid" === 100L).collect()(0)
    assert(row.getString(row.fieldIndex("name")) == big)
    val sums = back
      .select(Wkb.wkbPointXY($"geom").as("p"))
      .agg(sum(expr("CAST(p.x AS BIGINT)")), sum(expr("CAST(p.y AS BIGINT)")))
      .collect()(0)
    assert(sums.getLong(0) == n.toLong * (n + 1) / 2)
    assert(sums.getLong(1) == n.toLong * (n + 1))
  }

  test("GpkgReader.master lists the GPKG catalog; readTable reads metadata tables") {
    val path = tmp() + "/reader-cat.gpkg"
    val df = Seq((1L, Wkb.encodePoint((1.0, 2.0)))).toDF("fid", "geom")
    Gpkg.write(df, path, "layer")
    val names = graft.sources.GpkgReader.master(path)
      .filter(_.kind == "table").map(_.name).toSet
    assert(Set("gpkg_spatial_ref_sys", "gpkg_contents",
      "gpkg_geometry_columns", "layer").subsetOf(names))
    val contents = graft.sources.GpkgReader.readTable(spark, path, "gpkg_contents")
      .collect()
    assert(contents.length == 1 && contents(0).getString(0) == "layer")
    // srs table: the INTEGER PRIMARY KEY srs_id comes back from rowids
    val srs = graft.sources.GpkgReader.readTable(spark, path, "gpkg_spatial_ref_sys")
      .select($"srs_id").collect().map(_.getLong(0)).toSet
    assert(srs == Set(-1L, 0L, 4326L))
  }

  test("GpkgReader parses a FOREIGN GeoPackage written by stock sqlite3 itself") {
    // The inverse of every other test here: stock sqlite3 is the
    // WRITER (its own page allocator, freelists, overflow layout —
    // none of our writer's choices), and GpkgReader must parse it.
    // 3000 rows force a multi-level table b-tree; one oversized text
    // value forces an overflow chain; fid gaps exercise rowid
    // aliasing.
    val path = tmp() + "/foreign.gpkg"
    val script =
      s"""import sqlite3, struct
         |con = sqlite3.connect("$path")
         |cur = con.cursor()
         |cur.execute("CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, description TEXT)")
         |cur.execute("INSERT INTO gpkg_spatial_ref_sys VALUES ('WGS 84', 4326, 'EPSG', 4326, 'GEOGCS[...]', NULL)")
         |cur.execute("CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, data_type TEXT NOT NULL, identifier TEXT, description TEXT DEFAULT '', last_change DATETIME NOT NULL, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)")
         |cur.execute("INSERT INTO gpkg_contents VALUES ('pts', 'features', 'pts', '', '2026-01-01T00:00:00.000Z', NULL, NULL, NULL, NULL, 4326)")
         |cur.execute("CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)")
         |cur.execute("INSERT INTO gpkg_geometry_columns VALUES ('pts', 'geom', 'POINT', 4326, 0, 0)")
         |cur.execute("CREATE TABLE pts (fid INTEGER PRIMARY KEY, geom POINT, name TEXT, score DOUBLE)")
         |def gp(x, y):
         |    wkb = struct.pack('<BIdd', 1, 1, x, y)
         |    return b'GP' + bytes([0, 1]) + struct.pack('<i', 4326) + wkb
         |for i in range(1, 3001):
         |    fid = i * 3  # gaps: rowids are not dense
         |    name = ('long-' * 600 + str(i)) if i == 1500 else f'n{i}'
         |    cur.execute("INSERT INTO pts VALUES (?, ?, ?, ?)",
         |                (fid, gp(i * 0.5, -i * 0.25), name, i * 1.5))
         |con.commit()
         |con.close()
         |""".stripMargin
    val f = Files.createTempFile("gpkg-foreign", ".py")
    Files.writeString(f, script)
    Process(Seq("python3", f.toString)).!!

    val back = graft.sources.GpkgReader.readFeatures(spark, path, "pts")
    assert(back.count() == 3000)
    val rows = back.select($"fid", $"name", $"score", Wkb.wkbPointXY($"geom").as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getStruct(3).getDouble(0), r.getStruct(3).getDouble(1)))
      .sortBy(_._1)
    assert(rows.head == ((3L, "n1", 1.5, 0.5, -0.25)))
    assert(rows.last == ((9000L, "n3000", 4500.0, 1500.0, -750.0)))
    // the overflow-chained oversized value survives intact
    val big = rows.find(_._1 == 4500L).get
    assert(big._2.length == 3004 && big._2.startsWith("long-") && big._2.endsWith("1500"))
    // metadata tables readable through the same page parser
    val contents = graft.sources.GpkgReader.readTable(spark, path, "gpkg_contents").collect()
    assert(contents.length == 1 && contents(0).getString(0) == "pts")
  }

  test("multi-layer: one file, N feature tables, per-layer catalog rows, sqlite3-clean") {
    val path = tmp() + "/multi.gpkg"
    val places = Seq(
      (1L, "school", Wkb.encodePoint((10.0, 20.0))),
      (2L, "college", Wkb.encodePoint((11.0, 21.0))))
      .toDF("fid", "kind", "geom")
    val buildings = Seq(
      (7L, 3.5, Wkb.encodePoint((-1.0, -2.0))),
      (8L, 4.5, Wkb.encodePoint((-3.0, -4.0))),
      (9L, 5.5, Wkb.encodePoint((-5.0, -6.0))))
      .toDF("fid", "height", "geom")
    Exporter.writeGpkgLayers(
      Seq("places" -> places, "buildings" -> buildings), path, target = "education")

    // stock sqlite3: clean file, both layer tables present, catalog
    // rows enumerate both layers (the reference's dict→layers contract)
    assert(sqliteQuery(path, "PRAGMA integrity_check") == Seq("ok"))
    val tables = sqliteQuery(path, "SELECT name FROM sqlite_master WHERE type='table' ORDER BY name")
    assert(tables == Seq("education_buildings", "education_places", "gpkg_contents",
      "gpkg_geometry_columns", "gpkg_spatial_ref_sys"))
    assert(sqliteQuery(path,
      "SELECT table_name, data_type FROM gpkg_contents ORDER BY table_name")
      == Seq("education_buildings|features", "education_places|features"))
    assert(sqliteQuery(path,
      "SELECT table_name, column_name FROM gpkg_geometry_columns ORDER BY table_name")
      == Seq("education_buildings|geom", "education_places|geom"))
    assert(sqliteQuery(path, "SELECT count(*) FROM education_places") == Seq("2"))
    assert(sqliteQuery(path, "SELECT fid, height FROM education_buildings ORDER BY fid")
      == Seq("7|3.5", "8|4.5", "9|5.5"))

    // the independent reader sees each layer with its own schema
    val backP = graft.sources.GpkgReader.readFeatures(spark, path, "education_places")
      .select($"fid", $"kind", Wkb.wkbPointXY($"geom").as("p")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getStruct(2).getDouble(0))).sortBy(_._1)
    assert(backP.toSeq == Seq((1L, "school", 10.0), (2L, "college", 11.0)))
    val backB = graft.sources.GpkgReader.readFeatures(spark, path, "education_buildings")
      .select($"fid", $"height").collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(backB.toSeq == Seq((7L, 3.5), (8L, 4.5), (9L, 5.5)))

    // raw naming (reference raw_export): layer names pass through
    val rawPath = tmp() + "/raw.gpkg"
    Exporter.writeGpkgLayers(Seq("roads" -> places), rawPath, target = "ignored", raw = true)
    assert(sqliteQuery(rawPath, "SELECT table_name FROM gpkg_contents") == Seq("roads"))

    // duplicate layer names refuse
    val e = intercept[graft.ExportError] {
      Exporter.writeGpkgLayers(Seq("a" -> places, "a" -> buildings), tmp() + "/dup.gpkg", "t")
    }
    assert(e.getMessage.contains("duplicate layer"))
  }
}
