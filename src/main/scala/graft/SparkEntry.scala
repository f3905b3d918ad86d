package graft

import graft.queries.{QueryDef, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Driver contract — see SURVEY.md §2 (inventory) + §5
  * (correctness protocol). Query implementations live under
  * `graft.queries` / `graft.operators`; this object aggregates the
  * registry and is the one place the registry mains (Bench, Verify,
  * ExplainOne, PlanCheck) pick rows and run them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The corpus-cleaning pipeline composes quality scoring,
    * language ID, and dedup in one plan (SURVEY §2 M1).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipe_clean_corpus")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.fn).toMap

  /** DuckDB-runnable oracle SQL per query (same column names). */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Every row in registry order when `names` is empty; otherwise the
    * named rows in the given order, each once. All unknown names fail
    * together, before the caller runs anything.
    */
  def select(names: Seq[String]): Seq[QueryDef] =
    if (names.isEmpty) Registry.all
    else {
      val byName = Registry.all.map(q => q.name -> q).toMap
      val wanted = names.distinct
      val unknown = wanted.filterNot(byName.contains)
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(s"no registered query: ${unknown.mkString(", ")}")
      wanted.map(byName)
    }

  /** Runs `body` once per row under a job group named after the row.
    * A non-fatal failure is printed to stderr as the row's [[cause]]
    * and the loop goes on; a fatal error propagates after the job
    * group is cleared. Returns the failed rows with their exceptions.
    */
  def runEach(spark: SparkSession, rows: Seq[QueryDef])(
      body: QueryDef => Unit): Seq[(QueryDef, Throwable)] = {
    val sc = spark.sparkContext
    rows.toVector.flatMap { q =>
      sc.setJobGroup(q.name, q.name, interruptOnCancel = false)
      try { body(q); None }
      catch {
        case NonFatal(e) =>
          System.err.println(s"[${q.name}] failed: ${cause(e)}")
          Some(q -> e)
      } finally sc.clearJobGroup()
    }
  }

  /** `<exception class>: <first line of its message>`. */
  def cause(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .fold(e.getClass.getName)(m => s"${e.getClass.getName}: $m")
}
