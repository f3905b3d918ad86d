package graft.`export`

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class ExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-export").toString

  private def pointsDf = tables.events
    .limit(20)
    .select(col("event_id").as("id"), col("event_type").as("kind"),
      col("value").as("x"), col("user_id").cast("double").as("y"))

  test("GeoJSONSeq writes one valid feature per line, distributed") {
    val dir = tmpDir() + "/out.geojsonseq"
    GeoJson.writeSeq(pointsDf, GeoJson.pointGeometry(col("x"), col("y")), dir)
    val lines = spark.read.text(dir).collect().map(_.getString(0))
    assert(lines.length == 20)
    lines.foreach { l =>
      assert(l.startsWith("""{"type":"Feature","properties":{"""))
      assert(l.contains(""""geometry":{"type":"Point","coordinates":["""))
    }
  }

  test("FeatureCollection single file has features array + metadata block") {
    val file = tmpDir() + "/out.geojson"
    GeoJson.writeFeatureCollection(
      pointsDf, GeoJson.pointGeometry(col("x"), col("y")), file,
      target = "events", generatedAt = "2026-01-01T00:00:00")
    val content = new String(Files.readAllBytes(Paths.get(file)), "UTF-8")
    assert(content.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(content.contains(""""metadata":{"generated":"2026-01-01T00:00:00""""))
    assert(content.contains(""""count":20"""))
    // parses as JSON via Spark's reader
    val parsed = spark.read.option("multiLine", "true").json(file)
    assert(parsed.columns.contains("features") && parsed.columns.contains("metadata"))
  }

  test("Exporter routes formats, writes real GPKG, rejects FGDB explicitly") {
    val dir = tmpDir()
    Exporter.write(pointsDf, s"$dir/t.parquet", ExportFormat.Parquet)
    assert(spark.read.parquet(s"$dir/t.parquet").count() == 20)
    Exporter.write(pointsDf, s"$dir/t.csv", ExportFormat.Csv)
    assert(spark.read.option("header", "true").csv(s"$dir/t.csv").count() == 20)
    Exporter.write(pointsDf, s"$dir/t.gpkg", ExportFormat.Gpkg,
      geometryWkb = Some(graft.functions.Wkb.wkbFromXY(col("x"), col("y"))))
    val bytes = Files.readAllBytes(Paths.get(s"$dir/t.gpkg"))
    assert(new String(bytes.slice(68, 72), "ISO-8859-1") == "GPKG")
    intercept[graft.ExportError] { // gpkg without geometry
      Exporter.write(pointsDf, s"$dir/t2.gpkg", ExportFormat.Gpkg)
    }
    intercept[UnsupportedOperationException] {
      Exporter.write(pointsDf, s"$dir/t.gdb", ExportFormat.Fgdb)
    }
  }

  test("ExportFormat.fromPath + exportFilename match reference naming") {
    assert(ExportFormat.fromPath("x/afg_roads.geojson") == ExportFormat.GeoJson)
    assert(ExportFormat.fromPath("y.gdb") == ExportFormat.Fgdb)
    assert(Exporter.exportFilename("roads", "AFG", ExportFormat.GeoJson) == "afg_roads.geojson")
    assert(Exporter.exportFilename("health", "ken", ExportFormat.Gpkg, raw = true) == "ken_health_raw.gpkg")
    // tabular JSON round-trips unambiguously (regression: .json used
    // to route back to GeoJson and throw on write)
    val jf = Exporter.exportFilename("places", "KEN", ExportFormat.Json)
    assert(jf == "ken_places.jsonl" && ExportFormat.fromPath(jf) == ExportFormat.Json)
  }

  test("FeatureService: Initial fails on existing, Overwrite truncates, Append adds") {
    val svc = tmpDir() + "/service"
    val df = pointsDf
    FeatureService.publish(df, svc, "roads", PublishMode.Initial)
    assert(FeatureService.readLayer(spark, svc, "roads").count() == 20)
    intercept[graft.PublishError] {
      FeatureService.publish(df, svc, "roads", PublishMode.Initial)
    }
    FeatureService.publish(df.limit(5), svc, "roads", PublishMode.Overwrite)
    assert(FeatureService.readLayer(spark, svc, "roads").count() == 5)
    FeatureService.publish(df.limit(3), svc, "roads", PublishMode.Append)
    assert(FeatureService.readLayer(spark, svc, "roads").count() == 8)
  }

  test("FeatureService Auto: create then key-upsert") {
    val svc = tmpDir() + "/service"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    FeatureService.publish(v1, svc, "places", PublishMode.Auto)
    val v2 = Seq((2L, "b2"), (3L, "c")).toDF("id", "v")
    FeatureService.publish(v2, svc, "places", PublishMode.Auto)
    val out = FeatureService.readLayer(spark, svc, "places")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("chunkForUpload sizes partitions from row count") {
    val df = tables.orders
    val n = df.count()
    val chunked = FeatureService.chunkForUpload(df, n, maxRowsPerChunk = 100)
    assert(chunked.rdd.getNumPartitions == math.ceil(n / 100.0).toInt)
  }

  test("estimateChunkSize responds to row width within reference bounds") {
    import org.apache.spark.sql.functions._
    val narrow = spark.range(2000).select($"id", lit("x").as("v"))
    val wide = spark.range(2000).select($"id",
      concat_ws("", array_repeat(lit("wide-payload-"), 400)).as("v"))
    val nSize = FeatureService.estimateChunkSize(narrow, maxMemoryMb = 1)
    val wSize = FeatureService.estimateChunkSize(wide, maxMemoryMb = 1)
    // Wider rows → fewer rows per memory budget (utils.py:346-374).
    assert(wSize < nSize, s"wide=$wSize narrow=$nSize")
    // Reference bounds [100, 50000] and the empty-input default.
    assert(wSize >= 100 && nSize <= 50000)
    assert(FeatureService.estimateChunkSize(narrow.limit(0)) == 1000)
    // A doubled budget buys proportionally more rows per chunk
    // (cap-free regime; ±1 for integer truncation).
    val w2 = FeatureService.estimateChunkSize(wide, maxMemoryMb = 2)
    assert(math.abs(w2 - 2 * wSize) <= 2, s"w2=$w2 wSize=$wSize")
    // The budgeted chunker wires the estimate through to partitions.
    val auto = FeatureService.chunkForUploadAuto(wide, 2000L, maxMemoryMb = 1)
    assert(auto.rdd.getNumPartitions == math.ceil(2000.0 / wSize).toInt)
  }

  test("CountryCache list and clear manage entries") {
    val cache = new CountryCache(spark, tmpDir() + "/cache")
    val k1 = CacheKey("AF", "places", "place", "2026-01")
    val k2 = CacheKey("KE", "buildings", "building", "2026-01")
    cache.put(k1, pointsDf, "2026-01-01")
    cache.put(k2, pointsDf, "2026-01-01")
    assert(cache.list().toSet == Set(k1, k2))
    assert(cache.clear(k1))
    assert(cache.list().toSet == Set(k2) && !cache.exists(k1))
  }

  test("CountryCache: write-through, completeness fallback") {
    val cache = new CountryCache(spark, tmpDir() + "/cache")
    val key = CacheKey("AF", "places", "place", "2026-01")
    assert(!cache.exists(key))
    var computes = 0
    def compute = { computes += 1; pointsDf }
    val a = cache.readThrough(key, Set("id", "kind"), "2026-01-01")(compute)
    assert(a.count() == 20 && computes == 1)
    // second read hits cache
    val b = cache.readThrough(key, Set("id", "kind"), "2026-01-01")(compute)
    assert(b.count() == 20 && computes == 1)
    // expecting a column the cache lacks -> treated as miss, recomputed
    val c = cache.readThrough(key, Set("id", "kind", "extra_col"), "2026-01-01") {
      computes += 1; pointsDf.withColumn("extra_col", lit(1))
    }
    assert(c.columns.contains("extra_col") && computes == 2)
  }

  test("FeatureService: every crashed-swap state recovers to a readable layer") {
    val svc = tmpDir() + "/svc"
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val df2 = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    FeatureService.publish(df1, svc, "pts", PublishMode.Initial)
    val live    = Paths.get(svc, "layer=pts")
    val staging = Paths.get(svc, "layer=pts.staging")
    val backup  = Paths.get(svc, "layer=pts.backup")

    // Crash BEFORE the swap started (staging written, live untouched):
    // old layer stays live, leftovers removed.
    df2.write.parquet(staging.toString)
    assert(FeatureService.recoverLayer(spark, svc, "pts"))
    assert(Files.exists(live) && !Files.exists(staging))
    assert(FeatureService.readLayer(spark, svc, "pts").count() == 2)

    // Crash BETWEEN the two renames (live moved aside, staging not yet
    // promoted): the complete staging layer is promoted — no data loss.
    df2.write.parquet(staging.toString)
    Files.move(live, backup)
    assert(FeatureService.recoverLayer(spark, svc, "pts"))
    assert(Files.exists(live) && !Files.exists(staging) && !Files.exists(backup))
    val promoted = FeatureService.readLayer(spark, svc, "pts")
    assert(promoted.count() == 2 &&
      promoted.filter(col("id") === 3L).count() == 1)

    // Crash AFTER promote but before backup cleanup: live wins,
    // backup dropped.
    df1.write.parquet(backup.toString)
    assert(FeatureService.recoverLayer(spark, svc, "pts"))
    assert(!Files.exists(backup) &&
      FeatureService.readLayer(spark, svc, "pts").count() == 2)

    // A normal Auto upsert after recovery works and leaves no debris.
    FeatureService.publish(Seq((3L, "C"), (4L, "d")).toDF("id", "v"),
      svc, "pts", PublishMode.Auto)
    val merged = FeatureService.readLayer(spark, svc, "pts")
    assert(merged.count() == 3 && !Files.exists(staging) && !Files.exists(backup))
  }

  test("FeatureService.cleanup: heals swaps, removes orphans, keeps configured layers") {
    val svc = tmpDir() + "/svc"
    val df = Seq((1L, "a")).toDF("id", "v")
    FeatureService.publish(df, svc, "wanted", PublishMode.Initial)
    FeatureService.publish(df, svc, "orphan", PublishMode.Initial)
    // half-finished swap for a third layer: staging only, no live
    df.write.parquet(Paths.get(svc, "layer=crashed.staging").toString)

    val dry = FeatureService.cleanup(spark, svc, keep = Set("wanted", "crashed"), dryRun = true)
    assert(dry.recovered == Seq("crashed") && dry.orphansRemoved == Seq("orphan"))
    // dry run touched nothing
    assert(Files.exists(Paths.get(svc, "layer=crashed.staging")))
    assert(FeatureService.listLayers(spark, svc) == Seq("orphan", "wanted"))

    val real = FeatureService.cleanup(spark, svc, keep = Set("wanted", "crashed"))
    assert(real.recovered == Seq("crashed") && real.orphansRemoved == Seq("orphan")
      && real.kept.toSet == Set("crashed", "wanted"))
    assert(FeatureService.listLayers(spark, svc) == Seq("crashed", "wanted"))
    assert(FeatureService.readLayer(spark, svc, "crashed").count() == 1)
    assert(!Files.exists(Paths.get(svc, "layer=orphan")))
  }

  test("CountryCache readThrough retries transient failures and degrades to a stale release") {
    val cache = new CountryCache(spark, tmpDir() + "/cache")
    cache.put(CacheKey("AF", "places", "place", "2026-01"), pointsDf, "2026-01-01")

    // failing-then-succeeding compute: retried to success, cached.
    val newKey = CacheKey("AF", "places", "place", "2026-02")
    var calls = 0
    val ok = cache.readThrough(newKey, Set("id", "kind"), "2026-02-01",
      maxAttempts = 3, backoffMs = 1L) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient") else pointsDf
    }
    assert(ok.count() == 20 && calls == 3 && cache.exists(newKey))

    // every attempt fails -> the newest complete OLDER release is
    // served instead of failing the pipeline; nothing is cached for
    // the failed release.
    val newer = CacheKey("AF", "places", "place", "2026-03")
    var fails = 0
    val stale = cache.readThrough(newer, Set("id", "kind"), "2026-03-01",
      maxAttempts = 2, backoffMs = 1L) { fails += 1; throw new RuntimeException("down") }
    assert(fails == 2 && stale.count() == 20 && !cache.exists(newer))

    // no stale fallback anywhere -> the last error propagates.
    intercept[RuntimeException] {
      cache.readThrough(CacheKey("KE", "roads", "road", "2026-01"), Set("id"),
        "2026-01-01", maxAttempts = 2, backoffMs = 1L) {
        throw new RuntimeException("down")
      }
    }
  }

  test("dynamic partition overwrite replaces only incoming partitions") {
    val dir = tmpDir() + "/layer"
    val full = tables.events
      .select(col("event_id"), col("event_type"), col("value"))
    Exporter.writePartitioned(full, dir, "event_type")
    val before = spark.read.parquet(dir)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // refresh ONE partition with a reduced batch
    val patch = full.filter(col("event_type") === "click").limit(5)
    Exporter.writePartitioned(patch, dir, "event_type")

    val after = spark.read.parquet(dir)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("click") == 5)                       // replaced
    (before.keySet - "click").foreach { k =>
      assert(after(k) == before(k), s"partition $k was disturbed") // untouched
    }
  }

  test("multilayer GeoJSON: one FeatureCollection, layer-tagged features, per-layer metadata") {
    import spark.implicits._
    val file = tmpDir() + "/multi.geojson"
    val places = Seq((1L, "school", 10.0, 20.0), (2L, "college", 11.0, 21.0))
      .toDF("id", "kind", "x", "y")
    val buildings = Seq((7L, 3.5, -1.0, -2.0)).toDF("id", "height", "x", "y")
    Exporter.writeGeoJsonLayers(
      Seq(
        ("places", places, GeoJson.pointGeometry(col("x"), col("y"))),
        ("buildings", buildings, GeoJson.pointGeometry(col("x"), col("y")))),
      file, target = "education", generatedAt = "2026-01-01T00:00:00")
    val content = new String(Files.readAllBytes(Paths.get(file)), "UTF-8")
    assert(content.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(content.contains(""""layers":{"places":2,"buildings":1}"""))
    assert(content.contains(""""total_count":3"""))
    val parsed = spark.read.option("multiLine", "true").json(file)
    val feats = parsed.select(explode(col("features")).as("f"))
      .select(col("f.properties.layer").as("layer"), col("f.properties.id").as("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    assert(feats.toSeq == Seq(("places", 1L), ("places", 2L), ("buildings", 7L)))
    // duplicate layer names refuse with the typed error
    val e = intercept[graft.ExportError] {
      Exporter.writeGeoJsonLayers(
        Seq(("a", places, GeoJson.pointGeometry(col("x"), col("y"))),
          ("a", buildings, GeoJson.pointGeometry(col("x"), col("y")))),
        tmpDir() + "/dup.geojson", target = "t")
    }
    assert(e.getMessage.contains("duplicate layer"))
  }

  test("multilayer GeoJSON hardening: pre-existing 'layer' column refuses; layer names JSON-escape") {
    import spark.implicits._
    val withLayer = Seq((1L, "shadow", 1.0, 2.0)).toDF("id", "layer", "x", "y")
    // a frame already carrying `layer` would have its property
    // silently overwritten by the injected layer id — typed refusal
    val e = intercept[graft.ExportError] {
      Exporter.writeGeoJsonLayers(
        Seq(("places", withLayer, GeoJson.pointGeometry(col("x"), col("y")))),
        tmpDir() + "/shadow.geojson", target = "t")
    }
    assert(e.getMessage.contains("'layer' column"))
    // a quote in a layer name must escape, not break the document
    val file = tmpDir() + "/quoted.geojson"
    val df = Seq((1L, 1.0, 2.0)).toDF("id", "x", "y")
    Exporter.writeGeoJsonLayers(
      Seq(("""he"said""", df, GeoJson.pointGeometry(col("x"), col("y")))),
      file, target = """t"gt""", generatedAt = "2026-01-01T00:00:00")
    val parsed = spark.read.option("multiLine", "true").json(file)
    val meta = parsed.select(col("metadata.total_count"),
      col("metadata.target")).collect()(0)
    assert(meta.getLong(0) == 1L)
    assert(meta.getString(1) == """t"gt""")
    assert(!parsed.columns.contains("_corrupt_record"))
  }

  test("GeoParquet writes TIMESTAMP and TIMESTAMP_NTZ as exact epoch microseconds") {
    val df = spark.sql(
      """SELECT 1L AS id, 1.5D AS x, 2.5D AS y,
        |  TIMESTAMP'2024-01-02 03:04:05.123456' AS t,
        |  TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS tn,
        |  TIMESTAMP'1969-12-31 23:59:59.999999' AS neg""".stripMargin)
      .withColumn("geom", graft.functions.Wkb.wkbFromXY(col("x"), col("y")))
    val dir = tmpDir() + "/ts.geoparquet"
    GeoParquet.write(df, "geom", dir)
    val back = spark.read.parquet(dir).select("t", "tn", "neg").head()
    // the physical column stays INT64 (no logical annotation): Spark reads a long
    assert(back.getLong(0) == 1704164645123456L)
    assert(back.getLong(1) == 1704164645123456L)
    assert(back.getLong(2) == -1L)
  }

  test("TIMESTAMP and TIMESTAMP_NTZ export to fgb, gpkg and shp as ISO-8601 text") {
    val df = spark.sql(
      """SELECT 1L AS id, 1.5D AS x, 2.5D AS y,
        |  TIMESTAMP'2024-01-02 03:04:05.123456' AS t,
        |  TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS tn""".stripMargin)
    val dir = tmpDir()
    def export(ext: String): String = {
      val path = s"$dir/ts.$ext"
      Exporter.write(df, path, ExportFormat.fromPath(path),
        geometryWkb = Some(graft.functions.Wkb.wkbFromXY(col("x"), col("y"))))
      path
    }
    def texts(back: org.apache.spark.sql.DataFrame) = {
      val r = back.select("t", "tn").head()
      (r.getString(0), r.getString(1))
    }
    val micros = ("2024-01-02T03:04:05.123456Z", "2024-01-02T03:04:05.123456")
    assert(texts(graft.sources.FlatGeobufReader.read(spark, export("fgb"))) == micros)
    assert(texts(graft.sources.ShapefileReader.read(spark, export("shp").stripSuffix(".shp")))
      == micros)
    // GeoPackage DATETIME is UTC to the millisecond by spec
    assert(texts(graft.sources.GpkgReader.readFeatures(spark, export("gpkg"), "features"))
      == (("2024-01-02T03:04:05.123Z", "2024-01-02T03:04:05.123Z")))
  }

  test("fgb, gpkg, layered gpkg and shp write pinned bytes for a mixed-value fixture") {
    // Three partitions; nulls in every attribute type; non-ASCII and
    // over-64-char text; both timestamp types; a negative and a
    // beyond-2^47 integer. Lines carry one NaN vertex and one line
    // long enough to overflow a GPKG page; polygons carry holes, one
    // of which pokes out of its shell.
    import PinFixture._
    val lineOf = udf { (id: Long) =>
      val n = if (id == 7) 300 else 4
      wkb(2, Seq((0 until n).map { k =>
        (if (id == 5 && k == 1) Double.NaN else id + k * 0.5, id * 2.0 - k)
      }))
    }
    val polyOf = udf { (id: Long) =>
      val shell = square(id * 10.0, -id * 3.0, 8.0)
      val hole = if (id == 6) square(id * 10.0 + 6, -id * 3.0 + 2, 4.0) else square(id * 10.0 + 2, -id * 3.0 + 2, 3.0)
      wkb(3, if (id % 3 == 0) Seq(shell) else Seq(shell, hole.reverse))
    }
    val attrs = spark.range(0, 12, 1, 3).select(
      col("id"),
      expr("""CASE id % 4 WHEN 1 THEN NULL WHEN 2 THEN 'Zürich – 東京 🚀 ünïcødé'
             |  WHEN 3 THEN repeat('long-text-', 8) ELSE concat('site-', id) END""".stripMargin)
        .as("name"),
      expr("CASE id WHEN 0 THEN -42L WHEN 1 THEN NULL WHEN 2 THEN 140737488355333L ELSE id * 1000 END")
        .as("big"),
      (col("id").cast("int") - 6).as("small"),
      expr("CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) * 1.25D - 3.0D END").as("score"),
      expr("CASE WHEN id = 3 THEN NULL ELSE timestamp_micros(1704164645123456L + id * 86400123457L) END")
        .as("ts"),
      expr("CASE WHEN id = 4 THEN NULL ELSE " +
        "CAST(timestamp_micros(1704164645123456L - id * 3600654321L) AS TIMESTAMP_NTZ) END").as("tn"))
    val lines = attrs.withColumn("geom", lineOf(col("id")))
    val polys = attrs.withColumn("geom", polyOf(col("id")))
    val dir = tmpDir()
    Seq("l" -> lines, "p" -> polys).foreach { case (name, df) =>
      FlatGeobuf.write(df, "geom", s"$dir/${name}0.fgb", 0)
      FlatGeobuf.write(df, "geom", s"$dir/${name}16.fgb", 16)
      Gpkg.write(df, s"$dir/$name.gpkg", name)
      Shapefile.write(df, "geom", s"$dir/$name")
    }
    Gpkg.writeLayers(Seq(
      Gpkg.Layer(lines.withColumn("fid", lit(100L) - col("id") * 37), "lines"),
      Gpkg.Layer(polys, "polys")), s"$dir/layers.gpkg")
    def sha256(f: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(dir, f))).map(b => f"$b%02x").mkString
    val files = Seq("l0.fgb", "l16.fgb", "l.gpkg", "l.shp", "l.shx", "l.dbf",
      "p0.fgb", "p16.fgb", "p.gpkg", "p.shp", "p.shx", "p.dbf", "layers.gpkg")
    val got = files.map(f => f -> sha256(f)).toMap
    assert(got == Map(
      "l0.fgb" -> "014c00e8824e20f8bcc9570d77ebe23598ad767e42163b25429717e6141bbf46",
      "l16.fgb" -> "7adc48ffe430800974bee09f1e1aeb2c83abdbc37f35f91cd80940f9a15aefa0",
      "l.gpkg" -> "22929e182e38597f297401c358a85d51bdf3a875da59461eeb14568c62992371",
      "l.shp" -> "c8eb895c11e0d683446c2eafe1cdab8c7ec7059943d1f370fac026809cd1a1eb",
      "l.shx" -> "41934e10110f0f03f93c5241070199254ee3cab6ca4fc231b02941456fe9bc1f",
      "l.dbf" -> "286250dbf498073127b0eaf46f00f34a4bebb9b060e4243c589eeffd431cd6ed",
      "p0.fgb" -> "cfd96b1806bb24831e00710aa57ad3839a886ab06011adf372ba43664718759e",
      "p16.fgb" -> "67ff1f2534ef70f19e50b86d992b11026e64140840e36f67c606534fd4693ae0",
      "p.gpkg" -> "dd4c49c7ac9a1eb3b83dcd7c346385ae131ba4087e2bd953820c5e86d94c3520",
      "p.shp" -> "58ee65bd30be652c7a6c8deca7570a8b1db94b4d1a88fdee71a383c3cf3f9947",
      "p.shx" -> "7fb1f53d6b9a2f6eebd45f4d4484dd334be37303450d3e915934d6f617f2dd5d",
      "p.dbf" -> "286250dbf498073127b0eaf46f00f34a4bebb9b060e4243c589eeffd431cd6ed",
      "layers.gpkg" -> "cb305bcd6f957971d46b4fb0b83d0c9b2b826cc3c9e4eb3245293b6ba9d07a2e"))
  }

  test("CountryCache metadata sidecar is valid JSON for any key text") {
    val base = tmpDir() + "/cache"
    val cache = new CountryCache(spark, base)
    val key = CacheKey("A\"F", "pla\\ces", "place", "2026-01")
    cache.put(key, pointsDf, "2026-01-01T00:00:00")
    val meta = graft.config.JsonConfig.parse(
      new String(Files.readAllBytes(Paths.get(base, key.relPath, "metadata.json")), "UTF-8"),
      "metadata.json")
    assert(meta.get("country").asText == "A\"F" && meta.get("theme").asText == "pla\\ces")
    assert(meta.get("features").asLong == 20L && meta.get("cached_at").asText == "2026-01-01T00:00:00")
  }
}

/** WKB builders for the byte-pin fixture (outside the spec class, so
  * the UDFs that call them serialize).
  */
private object PinFixture {

  /** Little-endian WKB LineString, or Polygon with the given rings. */
  def wkb(kind: Int, rings: Seq[Seq[(Double, Double)]]): Array[Byte] = {
    val pts = rings.map(_.length).sum
    val bb = java.nio.ByteBuffer.allocate(5 + (if (kind == 3) 4 + 4 * rings.length else 4) + 16 * pts)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(kind)
    if (kind == 3) bb.putInt(rings.length)
    rings.foreach { r => bb.putInt(r.length); r.foreach { case (x, y) => bb.putDouble(x).putDouble(y) } }
    bb.array()
  }

  def square(x0: Double, y0: Double, side: Double): Seq[(Double, Double)] =
    Seq((x0, y0), (x0, y0 + side), (x0 + side, y0 + side), (x0 + side, y0), (x0, y0))
}
