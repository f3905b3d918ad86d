package graft.config

import graft.{ConfigError, SparkSpec}
import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}

/** The driver-side JSON loaders against the Spark JSON reader they
  * replaced, which is kept here as the oracle: `spark.read.json`
  * with `multiLine`, then one QueryConfig / Country per row. Test
  * names say `catalogFromJson` for the JSON layout of
  * `QueryConfig.catalog`.
  */
class JsonConfigSpec extends SparkSpec {

  private object SparkReaderOracle {
    def catalog(spark: SparkSession, path: String): Map[String, QueryConfig] = {
      val df = spark.read.option("multiLine", "true").json(path)
      val cols = df.columns.toSet
      def opt(r: Row, c: String): Option[String] =
        if (cols.contains(c)) Option(r.getAs[Any](c)).map(_.toString) else None
      df.collect().map { r =>
        val qc = QueryConfig(
          name = r.getAs[String]("name"),
          theme = r.getAs[String]("theme"),
          typeName = opt(r, "type").getOrElse("feature"),
          filter = opt(r, "filter"),
          buildingFilter = opt(r, "building_filter"),
          buildingTheme = opt(r, "building_theme"),
          isMultilayer = opt(r, "is_multilayer").exists(_.toBoolean),
          geometrySplit = opt(r, "geometry_split").exists(_.toBoolean),
          sectorTitle = opt(r, "sector_title"),
          sectorTag = opt(r, "sector_tag"),
          upsertKey = opt(r, "upsert_key").getOrElse("id"))
        qc.name -> qc
      }.toMap
    }

    def registry(spark: SparkSession, path: String): Seq[Country] =
      spark.read.option("multiLine", "true").json(path)
        .selectExpr("name", "iso2", "iso3",
          "CAST(bounds[0] AS DOUBLE) AS minx", "CAST(bounds[1] AS DOUBLE) AS miny",
          "CAST(bounds[2] AS DOUBLE) AS maxx", "CAST(bounds[3] AS DOUBLE) AS maxy",
          "region")
        .collect()
        .map(r => Country(r.getString(0), r.getString(1), r.getString(2),
          (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)),
          Option(r.getString(7))))
        .toSeq
  }

  private def file(json: String): String = {
    val f = Files.createTempFile("graft-config", ".json")
    Files.writeString(f, json)
    f.toString
  }

  private val catalogs = Seq(
    "booleans as true and \"true\", nulls, keys missing from some entries" ->
      """[{"name":"a","theme":"places","type":"place","is_multilayer":true,
        |  "geometry_split":"false","filter":null,"sector_title":"A"},
        | {"name":"b","theme":"buildings","is_multilayer":"true","geometry_split":false,
        |  "building_theme":"buildings","building_filter":"subtype = 'x'"},
        | {"name":"c","theme":"base","sector_tag":null,"upsert_key":"gers_id"}]""".stripMargin,
    "numbers" ->
      """[{"name":"n1","theme":"nation","filter":"n_regionkey = 2","upsert_key":7,"sector_tag":1.5},
        | {"name":"n2","theme":"nation","upsert_key":12345678901}]""".stripMargin,
    "booleans only as JSON booleans" ->
      """[{"name":"x","theme":"t","is_multilayer":false,"geometry_split":true},
        | {"name":"y","theme":"t","is_multilayer":true}]""".stripMargin,
    "a single object at the top level" ->
      """{"name":"solo","theme":"customer","type":"site","filter":"c_mktsegment = 'FURNITURE'",
        | "is_multilayer":"false","sector_title":"Solo"}""".stripMargin)

  for ((label, json) <- catalogs)
    test(s"catalogFromJson matches the Spark JSON reader: $label") {
      val path = file(json)
      assert(QueryConfig.catalog(spark, path) == SparkReaderOracle.catalog(spark, path))
    }

  test("CountryRegistry.fromJson matches the Spark JSON reader") {
    val path = file(
      """[{"name":"Testland","iso2":"TL","iso3":"TLD","bounds":[1,2,3,4],"region":"Test"},
        | {"name":"Otherland","iso2":"OL","iso3":"OLD","bounds":[-10.5,-2.25,3,4.75]}]""".stripMargin)
    assert(CountryRegistry.fromJson(spark, path).all == SparkReaderOracle.registry(spark, path))
  }

  private def configError(load: String => Any, json: String): ConfigError = {
    val path = file(json)
    val e = intercept[ConfigError](load(path))
    assert(e.context.get("path").contains(path), e.getMessage)
    assert(e.getMessage.contains(path))
    e
  }

  private val loaders = Seq[(String, String => Any)](
    "catalogFromJson" -> (p => QueryConfig.catalog(spark, p)),
    "CountryRegistry.fromJson" -> (p => CountryRegistry.fromJson(spark, p)))

  for ((label, load) <- loaders)
    test(s"$label raises ConfigError naming the path on malformed JSON and a bad top level") {
      configError(load, """[{"name":"a","theme":"t"}""")
      configError(load, """[{"name":"a"}] trailing""")
      configError(load, "42")
      configError(load, "\"just a string\"")
      configError(load, "")
      val e = configError(load, """[{"name":"a","iso2":"AA","iso3":"AAA","theme":"t","bounds":[1,2,3,4]}, 7]""")
      assert(e.context.get("entry").contains("1"))
    }

  test("catalogFromJson: an entry without name or theme raises ConfigError naming the entry") {
    val noName = configError(p => QueryConfig.catalog(spark, p),
      """[{"name":"a","theme":"t"},{"theme":"t"}]""")
    assert(noName.context.get("entry").contains("1") && noName.getMessage.contains("'name'"))
    val noTheme = configError(p => QueryConfig.catalog(spark, p), """[{"name":"roads"}]""")
    assert(noTheme.context.get("entry").contains("roads") && noTheme.getMessage.contains("'theme'"))
    val badBool = configError(p => QueryConfig.catalog(spark, p),
      """[{"name":"roads","theme":"t","is_multilayer":"yes"}]""")
    assert(badBool.context.get("entry").contains("roads"))
  }

  test("CountryRegistry.fromJson: an entry without iso3 or with bad bounds raises ConfigError naming the entry") {
    val noIso3 = configError(p => CountryRegistry.fromJson(spark, p),
      """[{"name":"Testland","iso2":"TL","bounds":[1,2,3,4]}]""")
    assert(noIso3.context.get("entry").contains("Testland") && noIso3.getMessage.contains("'iso3'"))
    val badBounds = configError(p => CountryRegistry.fromJson(spark, p),
      """[{"name":"Testland","iso2":"TL","iso3":"TLD","bounds":[1,2,3]}]""")
    assert(badBounds.getMessage.contains("bounds"))
  }

  test("a missing file is a ConfigError naming the path") {
    val path = Files.createTempDirectory("graft-config").resolve("absent.json").toString
    val e = intercept[ConfigError](QueryConfig.catalog(spark, path))
    assert(e.context.get("path").contains(path))
  }

  test("a JSON catalog reads the agol block and takes upsert_key from it first") {
    val cat = QueryConfig.catalog(spark, file(
      """[{"name":"a","theme":"t","upsert_key":"top","agol":{"upsert_key":"gers_id","tags":"{tags_base}"}},
        | {"name":"b","theme":"t","upsert_key":"top"}]""".stripMargin))
    assert(cat("a").upsertKey == "gers_id" && cat("a").agol("tags") == "{tags_base}")
    assert(cat("b").upsertKey == "top" && cat("b").agol.isEmpty)
  }

  test("a JSON parse error names the path and line") {
    val e = configError(p => QueryConfig.catalog(spark, p), "[{\"name\":\"a\",\n\"theme\"}]")
    assert(e.context.get("line").contains("2"))
  }

  test("quote escapes quotes, backslashes and every control character") {
    val raw = "a\"b\\c/\n\r\t\b\f\u0001\u001f é"
    val q = JsonConfig.quote(raw)
    assert(q == "\"a\\\"b\\\\c/\\n\\r\\t\\b\\f\\u0001\\u001F é\"")
    assert(JsonConfig.parse(q, "q.json").asText == raw)
    assert(!q.exists(_ < ' '))
  }
}
