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

  /** Load a query catalog from a JSON file holding an array of
    * entries or a single entry (the engine-side equivalent of the
    * reference's queries.yml; YAML carries no semantics the JSON form
    * loses). Parsed on the driver with no Spark job. Values keep
    * their own JSON text (`2` → "2", `true` → "true"); booleans may
    * be written as `true` or `"true"`. Malformed JSON, a top level
    * that is not an array or object, and an entry without `name` or
    * `theme` are a [[graft.ConfigError]] naming the path and entry.
    */
  def catalogFromJson(spark: SparkSession, path: String): Map[String, QueryConfig] =
    JsonConfig.entries(spark, path).map { e =>
      val qc = QueryConfig(
        name = e.required("name"),
        theme = e.required("theme"),
        typeName = e.text("type").getOrElse("feature"),
        filter = e.text("filter"),
        buildingFilter = e.text("building_filter"),
        buildingTheme = e.text("building_theme"),
        isMultilayer = e.bool("is_multilayer"),
        geometrySplit = e.bool("geometry_split"),
        sectorTitle = e.text("sector_title"),
        sectorTag = e.text("sector_tag"),
        upsertKey = e.text("upsert_key").getOrElse("id"))
      qc.name -> qc
    }.toMap

  /** Load a query catalog from the reference's own YAML layout
    * (reference: config_loader.py:206 `yaml.safe_load(queries.yml)`
    * + domain/models.py:30-56 field mapping): a top-level map of
    * query name → {theme, type, filter?, building_filter?,
    * building_theme?, is_multilayer?, geometry_split?,
    * sector_title?, sector_tag?, agol: {…}}. `upsert_key` is read
    * from the `agol` block (where queries.yml keeps it), falling
    * back to a top-level key, then "id" — matching the reference's
    * precedence. Missing `theme`/`type` is a ConfigError naming the
    * entry, not a KeyError three frames later.
    */
  def catalogFromYaml(path: String): Map[String, QueryConfig] = {
    val root = Yaml.parseFile(path) match {
      case m: Yaml.YMap => m
      case other => throw new graft.ConfigError(
        s"queries catalog must be a top-level mapping, got ${other.getClass.getSimpleName}",
        Map("path" -> path))
    }
    root.entries.map { case (name, entryV) =>
      val entry = entryV match {
        case m: Yaml.YMap => m
        case _ => throw new graft.ConfigError(
          s"catalog entry '$name' must be a mapping", Map("path" -> path))
      }
      def str(key: String): Option[String] = entry.get(key) match {
        case None | Some(Yaml.YNull) => None
        case Some(v)                 => Some(v.asString)
      }
      def bool(key: String): Boolean = entry.get(key) match {
        case Some(Yaml.YBool(b)) => b
        case Some(Yaml.YStr(s))  => s.toBoolean
        case _                   => false
      }
      val agol = entry.get("agol") match {
        case Some(m: Yaml.YMap) => m.entries.map { case (k, v) => k -> v.asString }.toMap
        case _                  => Map.empty[String, String]
      }
      def req(key: String): String = str(key).getOrElse(
        throw new graft.ConfigError(s"catalog entry '$name' missing required key '$key'",
          Map("path" -> path)))
      val qc = QueryConfig(
        name = name,
        theme = req("theme"),
        typeName = req("type"),
        filter = str("filter"),
        buildingFilter = str("building_filter"),
        buildingTheme = str("building_theme"),
        isMultilayer = bool("is_multilayer"),
        geometrySplit = bool("geometry_split"),
        sectorTitle = str("sector_title"),
        sectorTag = str("sector_tag"),
        upsertKey = agol.get("upsert_key").orElse(str("upsert_key")).getOrElse("id"),
        agol = agol)
      name -> qc
    }.toMap
  }

  /** Extension-dispatched catalog load: `.yml`/`.yaml` → the YAML
    * reader (no SparkSession needed), anything else → the JSON form.
    */
  def catalog(spark: SparkSession, path: String): Map[String, QueryConfig] =
    if (path.endsWith(".yml") || path.endsWith(".yaml")) catalogFromYaml(path)
    else catalogFromJson(spark, path)
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
