package graft.config

import graft.SparkSpec
import java.nio.file.Files

class ConfigSpec extends SparkSpec {

  test("registry resolves ISO3, ISO2, then case-insensitive name") {
    val r = CountryRegistry.builtin
    assert(r.get("KEN").get.iso2 == "KE")
    assert(r.get("ke").get.iso3 == "KEN")
    assert(r.get("kenya").get.iso3 == "KEN")
    assert(r.get("United states").get.iso3 == "USA")
    assert(r.get("XX").isEmpty)
  }

  test("bbox validate and expand clamp to world bounds") {
    assert(CountryRegistry.validateBBox((0, 0, 10, 10)))
    assert(!CountryRegistry.validateBBox((10, 0, 0, 10)))   // inverted
    assert(!CountryRegistry.validateBBox((-200, 0, 0, 10))) // out of range
    val e = CountryRegistry.expandBBox((-179.95, -89.95, 179.95, 89.95), 0.1)
    assert(e == (-180.0, -90.0, 180.0, 90.0))
  }

  test("registry round-trips through JSON") {
    val f = Files.createTempFile("countries", ".json")
    Files.writeString(f,
      """[{"name":"Testland","iso2":"TL","iso3":"TLD","bounds":[1,2,3,4],"region":"Test"}]""")
    val r = CountryRegistry.fromJson(spark, f.toString)
    assert(r.get("TLD").get.bounds == (1.0, 2.0, 3.0, 4.0))
  }

  test("query catalog loads from JSON with reference fields") {
    val f = Files.createTempFile("queries", ".json")
    Files.writeString(f,
      """[{"name":"education","theme":"places","type":"place",
        |  "filter":"categories.primary = 'education'",
        |  "building_filter":"subtype = 'education'",
        |  "is_multilayer":"true","sector_title":"Education Facilities"},
        | {"name":"roads","theme":"transportation","type":"segment"}]""".stripMargin)
    val cat = QueryConfig.catalog(spark, f.toString)
    assert(cat("education").isMultilayer && cat("education").buildingFilter.isDefined)
    assert(cat("roads").filter.isEmpty && cat("roads").upsertKey == "id")
  }

  test("metadata templates render placeholders, keep unknowns verbatim") {
    val out = MetadataTemplate.render(
      "{title} — {sector} data ({missing})",
      Map("title" -> "Kenya Roads", "sector" -> "Transport"))
    assert(out == "Kenya Roads — Transport data ({missing})")
  }
}
