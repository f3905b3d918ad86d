package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 50: ABC inventory classification and the
  * oracle-checked streaming progress total.
  */
object Pipeline52 {

  /** D111: ABC (Pareto) classification of parts by revenue — class
    * A = the top percentiles covering ≤ 80% of cumulative revenue,
    * B to 95%, C the tail, reported as (class, n_parts, exact
    * revenue cents, share ×10⁶): the inventory-control view of
    * D47/D75's concentration curves (Gini/Lorenz SUMMARIZE the
    * skew; ABC turns it into an operating policy). Parts tile into
    * 100 revenue percentiles via `GlobalRank.ntileExact`
    * (range-partitioned parallel sort), the cumulative walk and
    * class cuts run on the 100-row percentile table (allowlisted
    * bounded window), and the class rollup is exact integer cents.
    *
    * Scale shape: one corpus collapse to per-part revenue, the
    * D62/D92 tiling path, then constant-size work.
    */
  def qAbc(t: Tables): DataFrame = {
    val perPart = t.lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
    val tiled = GlobalRank.ntileExact(perPart,
      Seq(col("cents").desc, col("l_partkey").asc), k = 100, out = "tile")
    val byTile = tiled.groupBy(col("tile"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      .localCheckpoint(true) // 100 rows; feeds the window AND the total
    val w = Window.orderBy(col("tile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byTile.agg(sum(col("c")).as("tot"))
    val classed = byTile
      .withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(expr("5 * cum <= 4 * tot"), "A")
          .when(expr("20 * cum <= 19 * tot"), "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(sum(col("n")).as("n_parts"), sum(col("c")).as("revenue_cents"))
    classed.crossJoin(broadcast(tot))
      .select(col("cls"), col("n_parts"), col("revenue_cents"),
        expr("(1000000 * revenue_cents) div tot").as("share_fx"))
  }

  val qAbcSql: String =
    """WITH pp AS (
      |  SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |tiled AS (
      |  SELECT cents, CAST(ntile(100) OVER (ORDER BY cents DESC, l_partkey) AS BIGINT) AS tile
      |  FROM pp),
      |bt AS (SELECT tile, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
      |       FROM tiled GROUP BY 1),
      |k AS (
      |  SELECT tile, n, c,
      |    sum(c) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(c) OVER () AS tot
      |  FROM bt),
      |cl AS (
      |  SELECT CASE WHEN 5 * cum <= 4 * tot THEN 'A'
      |              WHEN 20 * cum <= 19 * tot THEN 'B'
      |              ELSE 'C' END AS cls, n, c
      |  FROM k),
      |g AS (SELECT cls, CAST(sum(n) AS BIGINT) AS n_parts,
      |             CAST(sum(c) AS BIGINT) AS revenue_cents
      |      FROM cl GROUP BY 1)
      |SELECT cls, n_parts, revenue_cents,
      |  CAST((1000000 * revenue_cents) // (SELECT sum(revenue_cents) FROM g) AS BIGINT)
      |    AS share_fx
      |FROM g""".stripMargin

  /** I19: the StreamMetrics listener as a CORRECTNESS row — run the
    * I1 windowed aggregation through the real file stream with the
    * I18 listener attached, and emit the LISTENER's total input
    * rows: the engine's own progress feed must account for exactly
    * every event in the backlog (a lost or double-counted batch
    * hash-fails against `count(*)`). The observability surface is
    * thereby oracle-gated, not just spec-asserted.
    */
  def stProgressTotal(t: Tables): DataFrame = {
    val (_, m) = graft.streaming.StreamMetrics.withMetrics(t.spark) { m =>
      StreamQueries.stWindowedAgg(t).count()
      // Every progress event is posted before the stream terminates;
      // listeners receive them on the async bus, so drain it.
      org.apache.spark.sql.GraftBridge.drainListenerBus(t.spark)
    }
    import t.spark.implicits._
    Seq(m.snapshot().map(_.inputRows).sum).toDF("total_input_rows")
  }

  val stProgressTotalSql: String =
    "SELECT CAST(count(*) AS BIGINT) AS total_input_rows FROM events"
}
