package graft.config

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import graft.ConfigError
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Driver-side reader for the small JSON config files (query
  * catalogs, country registries): parsed with Jackson, so loading
  * one runs no Spark job. The file is opened through the session's
  * Hadoop filesystem, so any path `spark.read.json` accepted as a
  * single file still loads.
  */
private[config] object JsonConfig {

  /** One top-level entry, with its position for error messages. */
  final case class Entry(index: Int, node: JsonNode, path: String) {

    /** The value as text: strings as written, numbers and booleans
      * in their JSON form; missing and `null` are None.
      */
    def text(key: String): Option[String] = Option(node.get(key)).filterNot(_.isNull)
      .map(v => if (v.isValueNode) v.asText else v.toString)

    /** `true`/`false` in any case, as a JSON boolean or a string. */
    def bool(key: String): Boolean = text(key).exists { v =>
      v.toBooleanOption.getOrElse(throw error(s"'$key' must be true or false, got '$v'"))
    }

    def required(key: String): String = text(key).getOrElse(throw error(s"missing required key '$key'"))

    def error(msg: String): ConfigError = {
      val entry = text("name").getOrElse(index.toString)
      new ConfigError(s"entry $entry: $msg", Map("path" -> path, "entry" -> entry))
    }
  }

  /** The entries of a file holding an array of objects or a single
    * object; anything else is a [[graft.ConfigError]] naming the path.
    */
  def entries(spark: SparkSession, path: String): Seq[Entry] = {
    val p = new Path(path)
    val root =
      try {
        val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
        try new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).readTree(in)
        finally in.close()
      } catch {
        case e: java.io.IOException => // Jackson's parse errors included
          throw new ConfigError(s"cannot read JSON: ${e.getMessage}", Map("path" -> path), e)
      }
    val nodes =
      if (root != null && root.isArray) root.elements.asScala.toSeq
      else if (root != null && root.isObject) Seq(root)
      else throw new ConfigError(
        s"top level must be a JSON array or object, got ${Option(root).map(_.getNodeType).orNull}",
        Map("path" -> path))
    nodes.zipWithIndex.map { case (n, i) =>
      if (!n.isObject) throw new ConfigError(s"entry $i must be a JSON object, got ${n.getNodeType}",
        Map("path" -> path, "entry" -> i.toString))
      Entry(i, n, path)
    }
  }
}
