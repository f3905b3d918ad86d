package graft.config

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.dataformat.yaml.{YAMLMapper, YAMLParser}
import graft.ConfigError
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.yaml.snakeyaml.error.MarkedYAMLException
import scala.jdk.CollectionConverters._

/** The one codec for the small JSON and YAML documents graft reads
  * and writes on the driver: query catalogs (`.json`, or the
  * reference's `queries.yml`), country registries, publish metadata,
  * and the dump/cache sidecars. Everything goes through Jackson (its
  * YAML module for `.yml`/`.yaml`), so loading one runs no Spark job,
  * and [[quote]] is the only JSON string escaper in the engine.
  *
  * YAML 1.1's boolean words (`yes`/`no`/`on`/`off`/`y`/`n`) stay
  * strings; only `true`/`false` are booleans.
  */
private[graft] object JsonConfig {

  private val json = JsonMapper.builder()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build()
  // lazy: a JSON-only run never loads the YAML module
  private lazy val yaml = YAMLMapper.builder()
    .enable(YAMLParser.Feature.PARSE_BOOLEAN_LIKE_WORDS_AS_STRINGS).build()

  def isYaml(path: String): Boolean = path.endsWith(".yml") || path.endsWith(".yaml")

  /** Parse `text`, as YAML when `path` names a `.yml`/`.yaml` file and
    * as JSON otherwise. A syntax error is a [[graft.ConfigError]]
    * carrying `path` and the 1-based `line` of the problem.
    */
  def parse(text: String, path: String): JsonNode =
    try {
      if (isYaml(path)) { rejectAliases(text, path); yaml.readTree(text) }
      else json.readTree(text)
    } catch {
      case e: JsonProcessingException =>
        // YAML errors carry SnakeYAML's mark of the problem; Jackson's
        // own location is where its parser stood.
        val (msg, line) = e.getCause match {
          case y: MarkedYAMLException => (y.getProblem, Option(y.getProblemMark).map(_.getLine + 1))
          case _ => (e.getOriginalMessage, Option(e.getLocation).map(_.getLineNr))
        }
        throw new ConfigError(s"cannot parse ${if (isYaml(path)) "YAML" else "JSON"}: $msg",
          Map("path" -> path) ++ line.map("line" -> _.toString), e)
    }

  /** Jackson reads a YAML alias (`*name`) as the string "name", not
    * the anchored value: refuse it rather than misread the document.
    */
  private def rejectAliases(text: String, path: String): Unit = {
    val p = yaml.getFactory.createParser(text)
    try while (p.nextToken() != null) if (p.isCurrentAlias)
      throw new ConfigError(s"YAML aliases are not supported: *${p.getText}",
        Map("path" -> path, "line" -> p.currentTokenLocation.getLineNr.toString))
    finally p.close()
  }

  /** Read and [[parse]] a file through the Hadoop filesystem, so any
    * path Spark's readers accept as a single file loads.
    */
  def read(spark: SparkSession, path: String): JsonNode = {
    val p = new Path(path)
    val text =
      try {
        val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
        try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      } catch {
        case e: java.io.IOException =>
          throw new ConfigError(s"cannot read ${p.getName}: ${e.getMessage}", Map("path" -> path), e)
      }
    parse(text, path)
  }

  /** One config entry, with the name errors cite. */
  final case class Entry(name: String, node: JsonNode, path: String) {

    /** The value as text: strings as written, numbers and booleans
      * in their JSON form; missing and `null` are None.
      */
    def text(key: String): Option[String] = JsonConfig.text(node, key)

    /** `true`/`false` in any case, as a boolean or a string. */
    def bool(key: String): Boolean = text(key).exists { v =>
      v.toBooleanOption.getOrElse(throw error(s"'$key' must be true or false, got '$v'"))
    }

    def required(key: String): String = text(key).getOrElse(throw error(s"missing required key '$key'"))

    /** A nested mapping as key → text; absent is empty. */
    def map(key: String): Map[String, String] = Option(node.get(key)).filterNot(_.isNull) match {
      case None => Map.empty
      case Some(m) if m.isObject =>
        m.fieldNames.asScala.flatMap(k => JsonConfig.text(m, k).map(k -> _)).toMap
      case Some(other) => throw error(s"'$key' must be a mapping, got ${other.getNodeType}")
    }

    def error(msg: String): ConfigError =
      new ConfigError(s"entry $name: $msg", Map("path" -> path, "entry" -> name))
  }

  /** See [[Entry.text]]. */
  def text(node: JsonNode, key: String): Option[String] =
    Option(node.get(key)).filterNot(_.isNull).map(v => if (v.isValueNode) v.asText else v.toString)

  /** The entries of an array of objects or a single object; each is
    * named by its `name` value, else its position. Anything else is a
    * [[graft.ConfigError]] naming the path.
    */
  def entries(root: JsonNode, path: String): Seq[Entry] = {
    val nodes =
      if (root.isArray) root.elements.asScala.toSeq
      else if (root.isObject) Seq(root)
      else throw topLevelError(root, "an array or object", path)
    nodes.zipWithIndex.map { case (n, i) =>
      if (!n.isObject) throw new ConfigError(s"entry $i must be an object, got ${n.getNodeType}",
        Map("path" -> path, "entry" -> i.toString))
      Entry(text(n, "name").getOrElse(i.toString), n, path)
    }
  }

  /** The entries of a mapping of name → object (the queries.yml layout). */
  def namedEntries(root: JsonNode, path: String): Seq[Entry] = {
    if (!root.isObject) throw topLevelError(root, "a mapping", path)
    root.properties.asScala.toSeq.map { f =>
      val e = Entry(f.getKey, f.getValue, path)
      if (!f.getValue.isObject) throw e.error(s"must be a mapping, got ${f.getValue.getNodeType}")
      e
    }
  }

  private def topLevelError(root: JsonNode, want: String, path: String) =
    new ConfigError(s"top level must be $want, got ${root.getNodeType}", Map("path" -> path))

  /** A JSON object of `fields` in order. Values may be strings,
    * numbers, booleans or sequences of strings.
    */
  def obj(fields: (String, Any)*): String = {
    val o = json.createObjectNode()
    fields.foreach {
      case (k, v: String)  => o.put(k, v)
      case (k, v: Long)    => o.put(k, v)
      case (k, v: Boolean) => o.put(k, v)
      case (k, vs: Seq[_]) => val a = o.putArray(k); vs.foreach(v => a.add(v.toString))
      case (k, v) => throw new IllegalArgumentException(s"no JSON form for $k: ${v.getClass.getName}")
    }
    json.writeValueAsString(o)
  }

  /** `s` as a JSON string literal, quotes included: `"`, `\` and every
    * control character escaped.
    */
  def quote(s: String): String =
    "\"" + String.valueOf(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
}
