package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the staging policy and the session factory in one place each:
  * JVM-exit hooks only in `SessionStage`, `SparkSession.builder()` only
  * in `GraftSession`, and no module-level mutable map in a query module
  * (query modules stage through `SessionStage` instead).
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
}
