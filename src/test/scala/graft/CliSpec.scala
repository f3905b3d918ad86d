package graft

import graft.`export`.FeatureService
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, explode}

class CliSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-cli").toString

  private def writeCatalog(dir: String): String = {
    val path = Paths.get(dir, "catalog.json")
    Files.writeString(path,
      """[
        |  {"name": "supplier_sites", "theme": "supplier", "type": "site",
        |   "sector_title": "Supplier Sites", "upsert_key": "s_suppkey"},
        |  {"name": "asia_nations", "theme": "nation", "type": "division",
        |   "filter": "n_regionkey = '2'"},
        |  {"name": "education", "theme": "customer", "type": "site",
        |   "filter": "c_mktsegment = 'FURNITURE'",
        |   "building_theme": "customer",
        |   "building_filter": "c_mktsegment = 'MACHINERY'",
        |   "is_multilayer": "true"}
        |]""".stripMargin)
    path.toString
  }

  test("export verb: catalog entry -> pipeline -> geojsonseq and parquet") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    val sf = "/root/testdata/sf0.001"

    val out = s"$dir/suppliers.geojsonseq"
    Cli.run(spark, Seq("export", catalog, "supplier_sites", sf, out,
      "--geom=s_acctbal,s_nationkey", "--country=KEN"))
    val lines = spark.read.text(out).collect().map(_.getString(0))
    assert(lines.nonEmpty && lines.forall(_.startsWith("""{"type":"Feature"""")))
    assert(lines.head.contains(""""country_iso3":"KEN""""))

    // gpkg (the reference CLI's default format) through the same verb
    val gp = s"$dir/suppliers.gpkg"
    Cli.run(spark, Seq("export", catalog, "supplier_sites", sf, gp,
      "--geom=s_acctbal,s_nationkey"))
    val gpBytes = Files.readAllBytes(Paths.get(gp))
    assert(new String(gpBytes.slice(68, 72), "ISO-8859-1") == "GPKG")

    val pq = s"$dir/nations.parquet"
    Cli.run(spark, Seq("export", catalog, "asia_nations", sf, pq))
    val nations = spark.read.parquet(pq)
    assert(nations.count() == 5) // 5 nations per region in TPC-H
    assert(nations.columns.contains("data_sector") == false) // no sector_title configured
    assert(nations.columns.contains("country_iso3"))
  }

  test("multilayer catalog entry exports one layered GPKG and one combined GeoJSON") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    val sf = "/root/testdata/sf0.001"

    // GPKG: the reference's dict route — ONE file, {name}_{layer} tables
    val gp = s"$dir/education.gpkg"
    Cli.run(spark, Seq("export", catalog, "education", sf, gp,
      "--geom=c_acctbal,c_nationkey"))
    val master = graft.sources.GpkgReader.master(gp)
      .filter(_.kind == "table").map(_.name).toSet
    assert(Set("education_places", "education_buildings").subsetOf(master))
    val contents = graft.sources.GpkgReader.readTable(spark, gp, "gpkg_contents")
      .collect().map(_.getString(0)).toSet
    assert(contents == Set("education_places", "education_buildings"))
    val places = graft.sources.GpkgReader.readFeatures(spark, gp, "education_places")
    assert(places.filter(col("c_mktsegment") === "FURNITURE").count() == places.count()
      && places.count() > 0)

    // GeoJSON: combined FeatureCollection with layer tags + counts
    val gj = s"$dir/education.geojson"
    Cli.run(spark, Seq("export", catalog, "education", sf, gj,
      "--geom=c_acctbal,c_nationkey"))
    val parsed = spark.read.option("multiLine", "true").json(gj)
    val byLayer = parsed.select(explode(col("features")).as("f"))
      .groupBy(col("f.properties.layer")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLayer.keySet == Set("places", "buildings"))
    val meta = parsed.select(col("metadata.layers.places"),
      col("metadata.layers.buildings")).collect()(0)
    assert(meta.getLong(0) == byLayer("places") && meta.getLong(1) == byLayer("buildings"))

    // non-layered formats keep the combined frame with source_type
    val pq = s"$dir/education.parquet"
    Cli.run(spark, Seq("export", catalog, "education", sf, pq))
    val combined = spark.read.parquet(pq)
    assert(combined.select("source_type").distinct().collect()
      .map(_.getString(0)).toSet == Set("places", "buildings"))
  }

  test("--raw export skips normalization and uses raw layer naming") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    val sf = "/root/testdata/sf0.001"

    // raw parquet: source columns untouched, no metadata enrichment
    val pq = s"$dir/raw.parquet"
    Cli.run(spark, Seq("export", catalog, "supplier_sites", sf, pq, "--raw"))
    val rawDf = spark.read.parquet(pq)
    assert(!rawDf.columns.contains("country_iso3"), "raw export must skip addMetadata")
    assert(rawDf.columns.contains("s_suppkey"))

    // raw single-layer GPKG: table named 'features' per the reference
    val gp = s"$dir/raw.gpkg"
    Cli.run(spark, Seq("export", catalog, "supplier_sites", sf, gp,
      "--geom=s_acctbal,s_nationkey", "--raw"))
    assert(graft.sources.GpkgReader.readTable(spark, gp, "gpkg_contents")
      .collect().map(_.getString(0)).toSeq == Seq("features"))

    // raw multilayer GPKG: plain layer names, no target prefix
    val mgp = s"$dir/raw-multi.gpkg"
    Cli.run(spark, Seq("export", catalog, "education", sf, mgp,
      "--geom=c_acctbal,c_nationkey", "--raw"))
    assert(graft.sources.GpkgReader.readTable(spark, mgp, "gpkg_contents")
      .collect().map(_.getString(0)).toSet == Set("places", "buildings"))

    // the non-raw twin keeps the enrichment (guard against regression)
    val pq2 = s"$dir/cooked.parquet"
    Cli.run(spark, Seq("export", catalog, "supplier_sites", sf, pq2))
    assert(spark.read.parquet(pq2).columns.contains("country_iso3"))
  }

  test("publish verb: initial create then auto upsert through the catalog") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    val sf = "/root/testdata/sf0.001"
    val svc = s"$dir/svc"

    Cli.run(spark, Seq("publish", catalog, "supplier_sites", sf, svc, "--mode=initial"))
    val n1 = FeatureService.readLayer(spark, svc, "supplier_sites").count()
    assert(n1 > 0)
    // auto mode now upserts on s_suppkey: same data -> same count
    Cli.run(spark, Seq("publish", catalog, "supplier_sites", sf, svc, "--mode=auto"))
    assert(FeatureService.readLayer(spark, svc, "supplier_sites").count() == n1)
  }

  test("publish verb renders and applies an item-metadata template") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    val svc = s"$dir/svc"
    val tpl = Paths.get(dir, "meta.json")
    Files.writeString(tpl,
      """{"title": "{title} ({country})", "tags": ["{tag}", "sector", "{date}"],
        |"visibility": "org", "groups": ["g-open"]}""".stripMargin)
    Cli.run(spark, Seq("publish", catalog, "supplier_sites", "/root/testdata/sf0.001",
      svc, "--mode=initial", "--country=KEN", "--date=2026-08-13", s"--metadata=$tpl"))
    val m = FeatureService.readItemMetadata(spark, svc, "supplier_sites").get
    assert(m.title.contains("Supplier Sites (KEN)"))
    // the empty {tag} placeholder (no sector_tag configured) is
    // dropped by tag normalization
    assert(m.tags.contains(Seq("sector", "2026-08-13")))
    assert(m.visibility == "org" && m.groups == Seq("g-open"))
  }

  test("cache verbs and errors") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    // unknown query name lists the available ones
    val err = intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("export", catalog, "nope", "/root/testdata/sf0.001", s"$dir/x.parquet"))
    }
    assert(err.getMessage.contains("asia_nations") && err.getMessage.contains("supplier_sites"))
    // unknown command
    intercept[IllegalArgumentException] { Cli.run(spark, Seq("frobnicate")) }
    // cache list on an empty path is empty, clear reports not found
    Cli.run(spark, Seq("list-cache", s"$dir/cache"))
    Cli.run(spark, Seq("clear-cache", s"$dir/cache", "2026-01", "AF", "places", "place"))
    Cli.run(spark, Seq("version"))
  }

  test("list-cache prints the get_cache_stats footer: per-release counts + bytes, totals") {
    import graft.`export`.{CacheKey, CountryCache}
    import spark.implicits._
    val dir = tmp()
    val cache = new CountryCache(spark, s"$dir/cache")
    cache.put(CacheKey("KEN", "places", "place", "2026-01"),
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), "2026-08-16")
    cache.put(CacheKey("TZA", "places", "place", "2026-01"),
      Seq((3L, "c")).toDF("id", "name"), "2026-08-16")
    cache.put(CacheKey("KEN", "places", "place", "2026-02"),
      Seq((4L, "d")).toDF("id", "name"), "2026-08-16")
    val st = cache.stats()
    assert(st.entries == 3 && st.countries == 2 && st.releases == 2)
    assert(st.totalBytes > 0)
    assert(st.perRelease.map(r => (r._1, r._2)) == Seq(("2026-01", 2), ("2026-02", 1)))
    assert(st.perRelease.map(_._3).sum == st.totalBytes)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, Seq("list-cache", s"$dir/cache"))
    }
    val text = out.toString("UTF-8")
    assert(text.contains("[cache-stats] release=2026-01 entries=2"))
    assert(text.contains("[cache-stats] release=2026-02 entries=1"))
    assert(text.contains(
      s"[cache-stats] releases=2 countries=2 entries=3 total_bytes=${st.totalBytes}"))
  }

  test("run verb executes any registry query and writes the result") {
    val dir = tmp()
    Cli.run(spark, Seq("run", "q1_pricing", sfDir, s"$dir/q1.parquet"))
    val back = spark.read.parquet(s"$dir/q1.parquet")
    assert(back.count() > 0)
    assert(back.columns.contains("l_returnflag"))
    val err = intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("run", "nope", sfDir, s"$dir/x.parquet"))
    }
    assert(err.getMessage.contains("no registered query"))
    // non-tabular target rejected BEFORE the query runs
    val fmtErr = intercept[IllegalArgumentException] {
      Cli.run(spark, Seq("run", "q1_pricing", sfDir, s"$dir/x.gpkg"))
    }
    assert(fmtErr.getMessage.contains("tabular"))
    Cli.run(spark, Seq("list-registry"))
  }

  test("compact verb rewrites a parquet dir at the byte-planned file count") {
    import spark.implicits._
    val dir = tmp()
    (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(20).write.parquet(s"$dir/in")
    Cli.run(spark, Seq("compact", s"$dir/in", s"$dir/out", "--target-mb=128"))
    assert(graft.`export`.Compactor.dataFileCount(spark, s"$dir/out") == 1)
    assert(spark.read.parquet(s"$dir/out").count() == 2000)
  }

  test("export writes the same bytes for the same input and --date") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    def export(name: String, out: String, geom: String): Unit =
      Cli.run(spark, Seq("export", catalog, name, sfDir, s"$dir/$out", s"--geom=$geom",
        "--date=2026-01-01"))
    Seq("fgb", "gpkg", "shp", "geojson", "geojsonseq")
      .foreach(ext => export("supplier_sites", s"s.$ext", "s_acctbal,s_nationkey"))
    Seq("gpkg", "geojson").foreach(ext => export("education", s"e.$ext", "c_acctbal,c_nationkey"))
    def sha256(files: Seq[java.nio.file.Path]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach(f => md.update(Files.readAllBytes(f)))
      md.digest().map(b => f"$b%02x").mkString
    }
    val singles = Seq("s.fgb", "s.gpkg", "s.shp", "s.shx", "s.dbf", "s.prj", "s.cpg",
      "s.geojson", "e.gpkg", "e.geojson")
    // the GeoJSONSeq output is a directory: its part files in name order
    val seqParts = Files.list(Paths.get(dir, "s.geojsonseq")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString).toSeq
    val got = singles.map(f => f -> sha256(Seq(Paths.get(dir, f)))).toMap +
      ("s.geojsonseq" -> sha256(seqParts))
    assert(got == Map(
      "s.fgb" -> "f8e8e0d25c5af5638f199455097505daa24ffebce9961c07ffce2c04a6aa2a0d",
      "s.gpkg" -> "52f38d02b2d1e122a0aaf6303cf147f2d1e4f0a722310e1b2596d4daeb6751a8",
      "s.shp" -> "cdf94c4fc439af87570089e7a4305485db5099e4219ff9f7fcadb77e93157013",
      "s.shx" -> "5b242bdab189342ec9b3155589360a985c0c4c5db77ce44cf45f81932d35f292",
      "s.dbf" -> "5ef5308aec6c81d757f8704d3bace51731cfcdb15cef68f0cce455a8fa32eb54",
      "s.prj" -> "a02a27b1d1982c8516d83398e85a3c8b1aef1713c13ef4d84d7bde17430c07c4",
      "s.cpg" -> "3ad3031f5503a4404af825262ee8232cc04d4ea6683d42c5dd0a2f2a27ac9824",
      "s.geojson" -> "a5898b1240099fd9b3194e8006a92c1b68b247eba7f269f65fa6eee4685ddce8",
      "s.geojsonseq" -> "d56bdac936c8c5453d3d78f3af8c5ae6d1d917d98c5e78b7c294eb33ad725ca0",
      "e.gpkg" -> "8b458f1ec96ff25ec0becd39acf66d3882cea0aaf060e89d153385fa34a4f44b",
      "e.geojson" -> "c1c9e26cf21a8b27bab233fd6cd7543e24f62ec76f57fb1c62ff357ecd33fb0d"))
  }

  test("export runs only its data-pass jobs: no catalog or schema-inference job") {
    val dir = tmp()
    val catalog = writeCatalog(dir)
    val group = "cli-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def jobsOf(args: String*): Int = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      jobs.set(0)
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try Cli.run(spark, args) finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf("export", catalog, "supplier_sites", sfDir, s"$dir/s.gpkg",
        "--geom=s_acctbal,s_nationkey") == 1)
      assert(jobsOf("export", catalog, "supplier_sites", sfDir, s"$dir/s.shp",
        "--geom=s_acctbal,s_nationkey") == 1)
      assert(jobsOf("export", catalog, "supplier_sites", sfDir, s"$dir/s.fgb",
        "--geom=s_acctbal,s_nationkey") == 1)
      assert(jobsOf("export", catalog, "education", sfDir, s"$dir/e.gpkg",
        "--geom=c_acctbal,c_nationkey") == 2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
