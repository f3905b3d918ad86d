package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 33: cross-source quantile normalization
  * and hexagonal spatial binning.
  */
object Pipeline38 {

  /** D96: quantile normalization across sources — each event type's
    * value distribution is mapped onto the GLOBAL distribution by
    * percentile (value at within-type percentile p → global
    * percentile-p value): the batch-effect correction that makes
    * per-source scores comparable before mixing (the microarray
    * normalization classic, here for mixture curation). Output is
    * the 100-row-per-type mapping table (n rows mapped, source-side
    * max, global target value).
    *
    * Scale shape: the within-type ranks ride a type-partitioned
    * window (each partition one type's rows); the GLOBAL percentile
    * table is [[GlobalRank.ntileExact]] — a range-partitioned
    * parallel sort, never a single-task global window; both collapse
    * to 100-row tables before the join. Ties break on event_id, so
    * every bucket edge is deterministic in both engines.
    */
  def qQuantileNormalize(t: Tables): DataFrame = {
    val base = t.events.select(col("event_type"), col("event_id"), col("value"))
    val wSrc = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val srcBuckets = base
      .withColumn("pct", ntile(100).over(wSrc).cast("bigint"))
      .groupBy(col("event_type"), col("pct"))
      .agg(count(lit(1)).as("n_rows"),
        expr("round(max(value), 4)").as("src_max"))
    val globalBuckets = GlobalRank.ntileExact(base,
        Seq(col("value").asc, col("event_id").asc), k = 100, out = "pct")
      .groupBy(col("pct"))
      .agg(expr("round(max(value), 4)").as("norm_value"))
    srcBuckets.join(broadcast(globalBuckets), Seq("pct"))
      .select(col("event_type"), col("pct"), col("n_rows"),
        col("src_max"), col("norm_value"))
  }

  val qQuantileNormalizeSql: String =
    """WITH b AS (SELECT event_type, event_id, value FROM events),
      |src AS (
      |  SELECT event_type, pct, count(*) AS n_rows,
      |    round(max(value), 4) + 0 AS src_max
      |  FROM (
      |    SELECT event_type, value,
      |      CAST(ntile(100) OVER (PARTITION BY event_type
      |                            ORDER BY value, event_id) AS BIGINT) AS pct
      |    FROM b) x
      |  GROUP BY 1, 2),
      |gq AS (
      |  SELECT pct, round(max(value), 4) + 0 AS norm_value
      |  FROM (
      |    SELECT value,
      |      CAST(ntile(100) OVER (ORDER BY value, event_id) AS BIGINT) AS pct
      |    FROM b) x
      |  GROUP BY 1)
      |SELECT s.event_type, s.pct, s.n_rows, s.src_max, g.norm_value
      |FROM src s JOIN gq g ON g.pct = s.pct""".stripMargin

  /** C17: hexagonal binning (pointy-top axial grid, size 5) of the
    * derived event points — the density-surface aggregation mapping
    * tools favor over square grids (uniform neighbor distance, no
    * corner bias); the hex complement of C6's rectangular cells and
    * C12's geohash keys. Pixel→axial→cube-round is pure closed-form
    * column math with the SAME IEEE parse tree in both engines —
    * every literal carries the `D` suffix because Spark SQL parses
    * dotted literals as DECIMAL and `1.0 / 3.0` silently becomes
    * scale-6 decimal division (a 2-cell divergence at sf0.1 caught
    * by the oracle). Exact ties DO occur (x = 0 ⇒ cx == cy
    * bit-exactly), so the fix-up branch order (dz >= dy) is part of
    * the pinned semantics, identical in both engines.
    *
    * Scale shape: map-only bin math at scan speed; the only
    * exchange is the (type, cell) map-side-combined count. At
    * 100 TB identical — the classic render-side aggregation.
    */
  def geoHexbin(t: Tables): DataFrame = {
    val base = t.events.select(col("event_type"),
      col("value").as("x"),
      get_json_object(col("props"), "$.k").cast("double").as("y"))
      .filter(col("y").isNotNull)
    base
      .withColumn("q", expr("(sqrt(3.0D) / 3.0D * x - 1.0D / 3.0D * y) / 5.0D"))
      .withColumn("r", expr("(2.0D / 3.0D * y) / 5.0D"))
      .withColumn("cx", col("q"))
      .withColumn("cz", col("r"))
      .withColumn("cy", expr("-q - r"))
      .withColumn("rx", expr("round(cx)"))
      .withColumn("ry", expr("round(cy)"))
      .withColumn("rz", expr("round(cz)"))
      .withColumn("dx", expr("abs(rx - cx)"))
      .withColumn("dy", expr("abs(ry - cy)"))
      .withColumn("dz", expr("abs(rz - cz)"))
      .withColumn("hex_q", expr(
        "CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS BIGINT)"))
      .withColumn("hex_r", expr(
        """CAST(CASE WHEN dx > dy AND dx > dz THEN rz
          |     WHEN dz >= dy THEN -rx - ry ELSE rz END AS BIGINT)""".stripMargin))
      .groupBy(col("event_type"), col("hex_q"), col("hex_r"))
      .agg(count(lit(1)).as("n_points"))
  }

  val geoHexbinSql: String =
    """WITH p AS (
      |  SELECT event_type, value AS x,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |ax AS (
      |  SELECT event_type,
      |    (sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / 5.0 AS q,
      |    (2.0 / 3.0 * y) / 5.0 AS r
      |  FROM p),
      |cube AS (
      |  SELECT event_type, q, r, q AS cx, -q - r AS cy, r AS cz,
      |    round(q) AS rx, round(-q - r) AS ry, round(r) AS rz
      |  FROM ax),
      |d AS (
      |  SELECT event_type,
      |    abs(rx - cx) AS dx, abs(ry - cy) AS dy, abs(rz - cz) AS dz,
      |    rx, ry, rz
      |  FROM cube)
      |SELECT event_type,
      |  CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS BIGINT)
      |    AS hex_q,
      |  CAST(CASE WHEN dx > dy AND dx > dz THEN rz
      |       WHEN dz >= dy THEN -rx - ry ELSE rz END AS BIGINT) AS hex_r,
      |  count(*) AS n_points
      |FROM d GROUP BY 1, 2, 3""".stripMargin
}
