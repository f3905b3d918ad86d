package graft.config

/** Country with ISO codes and bounding box (reference:
  * src/o2agol/domain/models.py:16-27 `Country`;
  * src/o2agol/config/countries.py `CountryRegistry` — lookup by
  * ISO3, ISO2, then case-insensitive name, plus bbox access).
  */
final case class Country(
    name: String,
    iso2: String,
    iso3: String,
    bounds: (Double, Double, Double, Double), // (minx, miny, maxx, maxy)
    region: Option[String] = None
)

/** ISO-code / name registry with the reference's resolution order
  * (ISO3 → ISO2 → name, case-insensitive). Ships a small built-in
  * set (public ISO-3166 + coarse bboxes); production deployments
  * load the full registry from JSON via [[CountryRegistry.fromJson]].
  */
final class CountryRegistry(countries: Seq[Country]) {

  private val byIso3 = countries.map(c => c.iso3.toUpperCase -> c).toMap
  private val byIso2 = countries.map(c => c.iso2.toUpperCase -> c).toMap
  private val byName = countries.map(c => c.name.toLowerCase -> c).toMap

  /** Reference match order: ISO3, ISO2, then name (countries.py). */
  def get(key: String): Option[Country] = {
    val k = key.trim
    byIso3.get(k.toUpperCase)
      .orElse(byIso2.get(k.toUpperCase))
      .orElse(byName.get(k.toLowerCase))
  }

  def all: Seq[Country] = countries
}

object CountryRegistry {

  /** Coarse WGS84 bboxes for a starter set (public knowledge). */
  val builtin: CountryRegistry = new CountryRegistry(Seq(
    Country("Afghanistan", "AF", "AFG", (60.5, 29.3, 75.2, 38.5), Some("South Asia")),
    Country("Kenya", "KE", "KEN", (33.9, -4.7, 41.9, 5.5), Some("Sub-Saharan Africa")),
    Country("Germany", "DE", "DEU", (5.9, 47.3, 15.0, 55.1), Some("Europe")),
    Country("Brazil", "BR", "BRA", (-73.9, -33.8, -28.6, 5.3), Some("Latin America")),
    Country("Japan", "JP", "JPN", (122.9, 24.0, 153.9, 45.5), Some("East Asia")),
    Country("United States", "US", "USA", (-179.1, 18.9, 179.8, 71.4), Some("North America"))))

  /** Load a registry from a JSON array file:
    * `[{"name":…,"iso2":…,"iso3":…,"bounds":[minx,miny,maxx,maxy],"region":…}]`
    * (the reference keeps the same data in data/countries.json).
    * Parsed on the driver with no Spark job; malformed JSON, a top
    * level that is not an array or object, and an entry without
    * `name`, `iso2`, `iso3` or four numeric `bounds` are a
    * [[graft.ConfigError]] naming the path and entry.
    */
  def fromJson(spark: org.apache.spark.sql.SparkSession, path: String): CountryRegistry =
    new CountryRegistry(JsonConfig.entries(JsonConfig.read(spark, path), path).map { e =>
      val bounds = Option(e.node.get("bounds")).filter(b => b.isArray && b.size == 4)
        .map(b => Seq.tabulate(4)(i => b.get(i).asText.toDoubleOption))
        .collect { case Seq(Some(a), Some(b), Some(c), Some(d)) => (a, b, c, d) }
      Country(e.required("name"), e.required("iso2"), e.required("iso3"),
        bounds.getOrElse(throw e.error("'bounds' must be four numbers [minx, miny, maxx, maxy]")),
        e.text("region"))
    })

  /** Bbox sanity check (reference: utils.py:376-401 `validate_bbox`). */
  def validateBBox(b: (Double, Double, Double, Double)): Boolean = {
    val (minx, miny, maxx, maxy) = b
    minx >= -180 && maxx <= 180 && miny >= -90 && maxy <= 90 && minx < maxx && miny < maxy
  }

  /** Buffered bbox clamped to world bounds (reference:
    * utils.py:403-425 `expand_bbox`).
    */
  def expandBBox(b: (Double, Double, Double, Double), buffer: Double = 0.1): (Double, Double, Double, Double) = {
    val (minx, miny, maxx, maxy) = b
    (math.max(-180, minx - buffer), math.max(-90, miny - buffer),
      math.min(180, maxx + buffer), math.min(90, maxy + buffer))
  }
}
