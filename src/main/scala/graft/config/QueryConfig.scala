package graft.config

import org.apache.spark.sql.SparkSession

/** A named pipeline query definition (reference:
  * src/o2agol/domain/models.py:30-56 `Query` +
  * data/queries.yml entries): theme/type selection, optional
  * filters, multilayer/geometry-split flags, and publish metadata.
  */
final case class QueryConfig(
    name: String,
    theme: String,
    typeName: String,
    filter: Option[String] = None,
    buildingFilter: Option[String] = None,
    buildingTheme: Option[String] = None,
    isMultilayer: Boolean = false,
    geometrySplit: Boolean = false,
    sectorTitle: Option[String] = None,
    sectorTag: Option[String] = None,
    upsertKey: String = "id",
    /** publish-metadata templates (the queries.yml `agol:` block),
      * rendered by [[MetadataTemplate]] at publish time
      */
    agol: Map[String, String] = Map.empty
)

object QueryConfig {

  /** Load a query catalog, parsed on the driver with no Spark job.
    * Two layouts (reference: config_loader.py:206
    * `yaml.safe_load(queries.yml)` + domain/models.py:30-56):
    *
    *   - `.yml`/`.yaml`: the reference's queries.yml, a mapping of
    *     query name → entry; `type` is required.
    *   - anything else: JSON, an array of entries or a single entry,
    *     each with a `name`; `type` defaults to "feature".
    *
    * An entry holds `theme`, `filter`, `building_filter`,
    * `building_theme`, `is_multilayer`, `geometry_split`,
    * `sector_title`, `sector_tag` and an `agol` block of publish
    * templates. `upsert_key` is read from `agol` (where queries.yml
    * keeps it), then the entry, then defaults to "id". Values keep
    * their own text (`2` → "2", `true` → "true"); booleans may be
    * written as `true` or `"true"`. A parse error, a wrong top level
    * and an entry without `name` (JSON), `theme` or `type` (YAML) are
    * a [[graft.ConfigError]] naming the path and entry.
    */
  def catalog(spark: SparkSession, path: String): Map[String, QueryConfig] = {
    val root = JsonConfig.read(spark, path)
    val yaml = JsonConfig.isYaml(path)
    val entries = if (yaml) JsonConfig.namedEntries(root, path) else JsonConfig.entries(root, path)
    entries.map { e =>
      val agol = e.map("agol")
      val qc = QueryConfig(
        name = if (yaml) e.name else e.required("name"),
        theme = e.required("theme"),
        typeName = if (yaml) e.required("type") else e.text("type").getOrElse("feature"),
        filter = e.text("filter"),
        buildingFilter = e.text("building_filter"),
        buildingTheme = e.text("building_theme"),
        isMultilayer = e.bool("is_multilayer"),
        geometrySplit = e.bool("geometry_split"),
        sectorTitle = e.text("sector_title"),
        sectorTag = e.text("sector_tag"),
        upsertKey = agol.get("upsert_key").orElse(e.text("upsert_key")).getOrElse("id"),
        agol = agol)
      qc.name -> qc
    }.toMap
  }
}

/** `{placeholder}` template rendering for publish metadata
  * (reference: queries.yml agol blocks — `item_title: "{title}"`,
  * `tags: "{tags_base} + [...]"` — resolved by the publisher).
  * Unknown placeholders are left verbatim (diagnosable, never
  * silently dropped).
  */
object MetadataTemplate {
  private val Placeholder = "\\{([a-zA-Z0-9_]+)\\}".r

  def render(template: String, vars: Map[String, String]): String =
    Placeholder.replaceAllIn(template, m =>
      scala.util.matching.Regex.quoteReplacement(
        vars.getOrElse(m.group(1), m.matched)))
}
