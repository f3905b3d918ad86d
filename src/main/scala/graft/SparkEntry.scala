package graft

import graft.queries.{LlmQueries, QueryDef, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Driver contract — see SURVEY.md §2 (inventory) + §5
  * (correctness protocol). Query implementations live under
  * `graft.queries` / `graft.operators`; this object aggregates the
  * registry and is the one place the registry mains (Bench, Verify,
  * ExplainOne, PlanCheck, `Cli run`) pick rows and run them. A row's
  * `fn` takes the [[Tables]] catalog its runner builds for the session.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The corpus-cleaning pipeline composes quality scoring,
    * language ID, and dedup in one plan (SURVEY §2 M1).
    */
  def entry(spark: SparkSession): DataFrame =
    LlmQueries.pipeCleanCorpus(Tables(spark, "/root/testdata/sf0.001"))

  /** Every row as a `fn(spark, dir)` call, keyed by name: the adapter
    * the benchmark harness (`perfbench`) drives the registry through.
    * Each call builds the row over a fresh `Tables(spark, dir)`. The
    * registry mains take rows from [[select]] and pass their own catalog.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { q =>
      q.name -> ((spark: SparkSession, dir: String) => q.fn(Tables(spark, dir)))
    }.toMap

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
