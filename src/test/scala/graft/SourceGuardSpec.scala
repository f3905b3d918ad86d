package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the staging policy, the session factory, the JSON/YAML
  * codec and the streaming-query lifecycle in one place each: JVM-exit
  * hooks only in `SessionStage`, `SparkSession.builder()` only in
  * `GraftSession`, no module-level mutable map in a query module
  * (query modules stage through `SessionStage` instead), JSON string
  * escaping, Jackson mappers and config-document parsing only in
  * `config/JsonConfig`, one start/await/checkpoint site for every
  * streaming row, and one geometry-column check and ring decoder for
  * the geo file writers. Query modules take their tables from the
  * catalog their runner passes. No JVM system property steers the
  * program, and no `Throwable` catch swallows a fatal error.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).map { p =>
      root.relativize(p).toString -> Files.readString(p)
    }.toMap
    finally s.close()
  }

  private val shutdownHook = "addShutdownHook".r
  private val sessionBuilder = """SparkSession\s*\.\s*builder\s*\(""".r
  /** A `val` at object-member indentation bound to a mutable map. */
  private val moduleMap =
    """(?m)^  (?:private(?:\[\w+\])?\s+)?(?:lazy\s+)?val\s+\w+\s*(?::[^=\n]*)?=\s*(?:new\s+)?[\w.]*(?:ConcurrentHashMap|TrieMap|mutable\.\w*Map)\b""".r

  /** A hand-written JSON string escaper's quote case. */
  private val stringEscaper = """case\s*'"'\s*=>""".r
  /** Spark's JSON reader over an in-memory document. */
  private val inMemoryJsonRead =
    """\.json\(\s*(?:Seq|List|Vector|Array)\s*\(|\.json\([^)\n]*\.toDS\(""".r
  private val mapper = """\b(?:ObjectMapper|JsonMapper|YAMLMapper|JsonFactory|Yaml)\s*[.(\[]""".r
  private val codec = "graft/config/JsonConfig.scala"
  private val systemProperty = """\bsys\.props\b|System\.getProperty\b""".r

  /** A query building its own catalog, taking `(spark, dir)`, or reading parquet around the catalog. */
  private val ownCatalog =
    """\bTables\s*\(|\bspark\s*:\s*SparkSession\s*,\s*dir\s*:\s*String\b|\bspark\.read\.parquet\(""".r

  /** A catch case typed `Throwable`; it must rethrow on its line. */
  private val throwableCase = """case\s+\w+\s*:\s*Throwable\s*=>""".r

  private def offenders(files: Map[String, String], re: scala.util.matching.Regex): Seq[String] =
    files.collect { case (f, text) if re.findFirstIn(text).isDefined => f }.toSeq.sorted

  test("the guard patterns flag the forms they exist for") {
    val samples = Seq(
      "  private val lineageStage =\n    new java.util.concurrent.ConcurrentHashMap[String, String]()\n",
      "  private val m = scala.collection.concurrent.TrieMap.empty[Int, Int]\n",
      "  private val cache =\n    scala.collection.mutable.Map.empty[(SparkSession, String), String]\n",
      "  val seen: mutable.HashMap[String, Int] = mutable.HashMap.empty\n")
    samples.foreach(s => assert(moduleMap.findFirstIn(s).isDefined, s))
    assert(moduleMap.findFirstIn("    val local = TrieMap.empty[Int, Int]\n").isEmpty)
    assert(sessionBuilder.findFirstIn("org.apache.spark.sql.SparkSession.builder()").isDefined)
    assert(stringEscaper.findFirstIn("      case '\"'  => \"\\\\\\\"\"").isDefined)
    assert(inMemoryJsonRead.findFirstIn("spark.read.json(Seq(json).toDS())").isDefined)
    assert(inMemoryJsonRead.findFirstIn("spark.read.json(texts.toDS())").isDefined)
    assert(inMemoryJsonRead.findFirstIn("""spark.read.json(s"$dir/part")""").isEmpty)
    assert(mapper.findFirstIn("new ObjectMapper().readTree(in)").isDefined)
    assert(mapper.findFirstIn("YAMLMapper.builder()").isDefined)
    assert(throwableCase.findFirstIn("catch { case _: Throwable => return -1.0 }").isDefined)
    assert(throwableCase.findFirstIn("case NonFatal(e) => log(e)").isEmpty)
    Seq("val t = graft.Tables(spark, dir)", "def q(spark: SparkSession, dir: String): DataFrame =",
      """t.spark.read.parquet(s"${t.dir}/events.parquet")""").foreach { s =>
      assert(ownCatalog.findFirstIn(s).isDefined, s)
    }
    assert(ownCatalog.findFirstIn("Tables.parquet(t.spark, path)").isEmpty)
  }

  test("sources are where the guard looks") {
    val names = sources.keySet
    assert(names("graft/util/SessionStage.scala"))
    assert(names.count(_.startsWith("graft/queries/")) > 50)
  }

  test("addShutdownHook appears only in SessionStage") {
    assert(offenders(sources, shutdownHook) == Seq("graft/util/SessionStage.scala"))
  }

  test("SparkSession.builder() appears only in GraftSession") {
    assert(offenders(sources, sessionBuilder) == Seq("graft/GraftSession.scala"))
  }

  test("no query module holds a module-level mutable map") {
    val queries = sources.filter(_._1.startsWith("graft/queries/"))
    assert(offenders(queries, moduleMap).isEmpty)
  }

  test("query modules take their tables from the runner's catalog") {
    val queries = sources.filter(_._1.startsWith("graft/queries/"))
    assert(offenders(queries, ownCatalog).isEmpty)
  }

  test("JSON/YAML documents are parsed and escaped only in the Jackson codec") {
    assert(!sources.contains("graft/config/Yaml.scala"))
    assert(sources.contains(codec))
    assert(offenders(sources, stringEscaper).isEmpty)
    assert(offenders(sources, inMemoryJsonRead).isEmpty)
    assert(offenders(sources, mapper) == Seq(codec))
  }

  test("streaming queries start, await and checkpoint in one place") {
    val queries = sources.filter(_._1.startsWith("graft/queries/")).values
    Seq(".writeStream", "Trigger.AvailableNow", "checkpointLocation", "awaitTermination(").foreach { call =>
      val n = queries.map(java.util.regex.Pattern.quote(call).r.findAllMatchIn(_).size).sum
      assert(n == 1, s"$call appears $n times under graft/queries")
    }
  }

  test("no JVM system property is read") {
    assert(systemProperty.findFirstIn("""sys.props.get("graft.x")""").isDefined)
    assert(systemProperty.findFirstIn("""System.getProperty("java.io.tmpdir")""").isDefined)
    assert(offenders(sources, systemProperty).isEmpty)
  }

  test("the geo writers check the geometry column and decode rings in one place") {
    val exporters = sources.filter(_._1.startsWith("graft/export/")).values
    Seq("must be WKB binary", "Wkb.decodeRings(").foreach { call =>
      val n = exporters.map(java.util.regex.Pattern.quote(call).r.findAllMatchIn(_).size).sum
      assert(n == 1, s"$call appears $n times under graft/export")
    }
  }

  test("every Throwable catch in src/main rethrows") {
    val swallowing = for {
      (f, text) <- sources.toSeq.sorted
      (line, i) <- text.linesIterator.zipWithIndex
      if throwableCase.findFirstIn(line).isDefined && !line.contains("throw ")
    } yield s"$f:${i + 1}"
    assert(swallowing.isEmpty)
  }
}
