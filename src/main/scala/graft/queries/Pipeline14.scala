package graft.queries

import graft.Tables
import graft.operators.Sampling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 11: file-lineage accounting, drawdown
  * analytics, and the composed release-manifest pipeline.
  */
object Pipeline14 {

  /** A19: per-file lineage accounting — every row tagged with its
    * physical source file via `input_file_name()` and rolled up by
    * the partition key EXTRACTED FROM THE PATH (the provenance
    * column a lakehouse ingest keeps for audit/backfill). The
    * oracle can't see file paths, so the assertion is the lineage
    * invariant itself: path-derived partition counts must equal the
    * column-derived counts on the original table — any mis-tagged
    * row breaks the match.
    */
  def srcFileLineage(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.SessionStage.dir(spark, dir, "lineage") { stage =>
      Tables(spark, dir).events
        .select(col("event_id"), col("value"), col("event_type"))
        .write.partitionBy("event_type").mode("overwrite").parquet(stage.toString)
    }
    spark.read.parquet(root.toString)
      .select(regexp_extract(input_file_name(), "event_type=([^/]+)/", 1)
        .as("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"))
  }

  val srcFileLineageSql: String =
    """SELECT event_type, count(*) AS n_rows
      |FROM events GROUP BY event_type""".stripMargin

  /** D54: maximum drawdown per event type over the daily value
    * series — running-peak minus current, maximized: the
    * degradation analytic (largest drop from any prior high) that a
    * monitoring pass runs on throughput/quality series. Daily sums
    * as exact ×10⁴ cents; running max via a ROWS-unbounded window
    * on the day-count-bounded series (~365·n_types rows at ANY
    * corpus scale); one corpus shuffle (the daily rollup).
    */
  def qDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val daily = t.events.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("v_fx")).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("peak", max(col("x")).over(w))
      .groupBy(col("event_type"))
      .agg(max(col("peak") - col("x")).as("max_drawdown_fx"),
        count(lit(1)).as("n_days"),
        max(col("peak")).as("peak_fx"))
  }

  val qDrawdownSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
      |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |pk AS (
      |  SELECT event_type, x,
      |    max(x) OVER (PARTITION BY event_type ORDER BY d
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM daily)
      |SELECT event_type,
      |  CAST(max(peak - x) AS BIGINT) AS max_drawdown_fx,
      |  count(*) AS n_days,
      |  CAST(max(peak) AS BIGINT) AS peak_fx
      |FROM pk GROUP BY event_type""".stripMargin

  /** M17: release manifest — the composed publish step after
    * cleaning: the M1 survivor set (session-cached shared subtree)
    * is assigned train/val/test by the deterministic id split and
    * rolled up per (split, predicted lang) with doc counts and
    * 4-dp-rounded mean quality — the dataset card's split table.
    * Downstream of the cached survivors this is one map + one
    * bounded agg.
    */
  def pipeReleaseManifest(spark: SparkSession, dir: String): DataFrame =
    LlmQueries.pipeCleanCorpus(spark, dir)
      .withColumn("split", Sampling.splitAssign(col("doc_id"), 80, 10))
      .groupBy(col("split"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("quality")), 4).as("q_avg"))

  val pipeReleaseManifestSql: String =
    s"""WITH clean AS (${LlmQueries.pipeCleanCorpusSql}),
       |assigned AS (
       |  SELECT lang_pred, quality,
       |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT lang_pred, quality,
       |          (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 100 AS b
       |        FROM clean) x)
       |SELECT split, lang_pred, count(*) AS n_docs,
       |  round(avg(quality), 4) + 0 AS q_avg
       |FROM assigned GROUP BY 1, 2""".stripMargin
}
