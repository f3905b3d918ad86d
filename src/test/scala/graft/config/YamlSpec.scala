package graft.config

import com.fasterxml.jackson.databind.JsonNode
import graft.{ConfigError, SparkSpec}

/** L2: the catalog loader reads the reference's own queries.yml
  * verbatim (Jackson's YAML module) and drives the same catalog model
  * the JSON form feeds; malformed YAML fails as a typed ConfigError
  * naming the path and line.
  */
class YamlSpec extends SparkSpec {

  private val fixture = "src/test/resources/queries.yml"

  private def yaml(src: String): JsonNode = JsonConfig.parse(src, "test.yml")

  test("reference queries.yml loads 1:1 into the QueryConfig catalog") {
    val cat = QueryConfig.catalog(spark, fixture)
    assert(cat.keySet == Set(
      "roads", "buildings", "education", "health", "markets", "places", "power"))

    val roads = cat("roads")
    assert(roads.theme == "transportation" && roads.typeName == "segment")
    assert(roads.filter.isEmpty) // the filter line is commented out
    assert(roads.sectorTitle.contains("Road Network"))
    assert(roads.sectorTag.contains("roads"))
    assert(roads.upsertKey == "id") // read from the agol block
    assert(roads.agol("item_title") == "{title}")
    assert(roads.agol("tags") == "{tags_base} + ['transportation', 'roads', 'foundational_data']")
    // every agol block has the same eight templates, item_id commented out
    assert(cat.values.forall(_.agol.keySet == Set("item_title", "snippet", "description",
      "service_name", "tags", "access_information", "license_info", "upsert_key")))

    val education = cat("education")
    assert(education.theme == "places" && education.typeName == "place")
    assert(education.filter.contains("categories.primary = 'education'"))
    assert(education.buildingFilter.contains("subtype = 'education'"))

    val markets = cat("markets")
    assert(markets.filter.contains(
      "categories.primary IN ('retail', 'shopping', 'food_and_drink')"))

    val power = cat("power")
    assert(power.geometrySplit)          // plain-scalar boolean `true`
    assert(!power.isMultilayer)
    assert(power.theme == "base" && power.typeName == "infrastructure")
  }

  test("catalog entries drive MetadataTemplate exactly as the JSON form") {
    val cat = QueryConfig.catalog(spark, fixture)
    val vars = Map(
      "title" -> "Afghanistan Road Network",
      "tags_base" -> "['afg']")
    assert(MetadataTemplate.render(cat("roads").agol("item_title"), vars) ==
      "Afghanistan Road Network")
    assert(MetadataTemplate.render(cat("roads").agol("tags"), vars) ==
      "['afg'] + ['transportation', 'roads', 'foundational_data']")
  }

  test("scalar typing: bool/int/float/null/quoted/flow/block lists") {
    val y = yaml(
      """a: 7
        |b: -3.5
        |c: true
        |d: ~
        |e: "quoted # not a comment"
        |f: 'single ''escaped'''
        |g: [1, two, "three, four"]
        |h:
        |  - x
        |  - key: v
        |    other: 2
        |i: plain with spaces   # trailing comment
        |j: on
        |k: yes
        |l: No
        |""".stripMargin)
    assert(y.get("a").isInt && y.get("a").asInt == 7)
    assert(y.get("b").isDouble && y.get("b").asDouble == -3.5)
    assert(y.get("c").isBoolean && y.get("c").asBoolean)
    assert(y.get("d").isNull)
    assert(y.get("e").asText == "quoted # not a comment")
    assert(y.get("f").asText == "single 'escaped'")
    val g = y.get("g")
    assert(g.size == 3 && g.get(0).isInt && g.get(0).asInt == 1 &&
      g.get(1).asText == "two" && g.get(2).asText == "three, four")
    val h = y.get("h")
    assert(h.get(0).asText == "x")
    assert(h.get(1).get("key").asText == "v" && h.get(1).get("other").asInt == 2)
    assert(y.get("i").asText == "plain with spaces")
    // YAML 1.1's boolean words stay the strings they are written as
    for ((k, v) <- Seq("j" -> "on", "k" -> "yes", "l" -> "No"))
      assert(y.get(k).isTextual && y.get(k).asText == v, k)
  }

  test("multi-line double-quoted scalars fold like agol_metadata.yml templates") {
    val t = yaml(
      """templates:
        |  description: "
        |    First line<br>
        |    second line.<br>
        |
        |    After blank."
        |  snippet: "one line"
        |""".stripMargin).get("templates")
    assert(t.get("snippet").asText == "one line")
    assert(t.get("description").asText == " First line<br> second line.<br>\nAfter blank.")
  }

  test("unsupported constructs raise typed ConfigError naming the line") {
    def err(src: String): ConfigError = intercept[ConfigError](yaml(src))
    val tab = err("a: 1\n\tb: 2")
    assert(tab.getMessage.contains("TAB"))
    assert(tab.context.get("line").contains("2") && tab.context.get("path").contains("test.yml"))
    assert(err("a:\n\tb: 1").context.get("line").contains("2"))
    val quote = err("a: 1\nb: \"unterminated")
    assert(quote.getMessage.contains("end of stream"))
    assert(quote.context.get("line").contains("2"))
    // Jackson would read an alias as its anchor's name: refused instead
    val alias = err("base: &b v\nalias: *b\n")
    assert(alias.getMessage.contains("aliases") && alias.context.get("line").contains("2"))
  }

  test("anchors, flow mappings, block scalars and document markers parse") {
    val y = yaml(
      """---
        |base: &b v
        |flow: {k: v, n: 2}
        |block: |
        |  line one
        |  line two
        |""".stripMargin)
    assert(y.get("base").asText == "v")
    assert(y.get("flow").get("k").asText == "v" && y.get("flow").get("n").asInt == 2)
    assert(y.get("block").asText == "line one\nline two\n")
  }

  test("missing required keys are ConfigErrors naming the entry") {
    val tmp = java.nio.file.Files.createTempFile("cat", ".yml")
    try {
      java.nio.file.Files.write(tmp, "noType:\n  theme: places\n".getBytes)
      val e = intercept[ConfigError](QueryConfig.catalog(spark, tmp.toString))
      assert(e.getMessage.contains("noType") && e.getMessage.contains("'type'"))
      assert(e.context.get("entry").contains("noType"))
    } finally java.nio.file.Files.delete(tmp)
  }
}
