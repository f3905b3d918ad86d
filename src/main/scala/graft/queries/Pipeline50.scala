package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 48: contingency residuals and trajectory
  * plausibility — which cells of a cross-tab are over-represented,
  * and which movement segments are physically impossible.
  */
object Pipeline50 {

  /** D109: contingency-table audit of lang × source with Pearson
    * residuals — observed count, expected count under independence
    * (row_total · col_total / N), and the standardized residual
    * (obs − exp)/√exp ×10⁴ — the cell-level "which combinations are
    * over/under-represented" view behind N12's split χ² (that one
    * sums to a verdict; this localizes it to cells, which is what a
    * corpus-balance review actually reads). Expected counts are
    * ×10⁴ integers (row·col·10⁴ div N); the residual takes ONE
    * 4-dp double emission per cell with an identical parse tree.
    *
    * Scale shape: one corpus collapse to the lang×source cell table
    * (map-side combined); margins re-aggregate the cell table;
    * everything after is vocabulary-bounded.
    */
  def qContingency(t: Tables): DataFrame = {
    val cells = t.documents
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint(true)
    val rowM = cells.groupBy(col("lang")).agg(sum(col("obs")).as("row_n"))
    val colM = cells.groupBy(col("source")).agg(sum(col("obs")).as("col_n"))
    val tot = cells.agg(sum(col("obs")).as("n"))
    cells
      .join(broadcast(rowM), "lang")
      .join(broadcast(colM), "source")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("obs"),
        expr("(10000 * row_n * col_n) div n").as("exp_fx"),
        expr("""round((CAST(obs AS DOUBLE) - CAST((10000 * row_n * col_n) div n AS DOUBLE) / 10000.0)
               |  / sqrt(CAST((10000 * row_n * col_n) div n AS DOUBLE) / 10000.0), 4)""".stripMargin)
          .as("pearson_resid"))
  }

  val qContingencySql: String =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS obs
      |  FROM documents GROUP BY 1, 2),
      |rm AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_n FROM cells GROUP BY 1),
      |cm AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_n FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells)
      |SELECT lang, source, obs,
      |  (10000 * row_n * col_n) // n AS exp_fx,
      |  round((CAST(obs AS DOUBLE) - CAST((10000 * row_n * col_n) // n AS DOUBLE) / 10000.0)
      |    / sqrt(CAST((10000 * row_n * col_n) // n AS DOUBLE) / 10000.0), 4) + 0
      |    AS pearson_resid
      |FROM cells JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN t""".stripMargin

  /** C19: trajectory speed audit — per user, consecutive event-
    * position segments checked against a maximum plausible speed
    * (the GPS teleport-detection cleaning step; C4 measures
    * distances, this asks whether the MOVEMENT implied by two fixes
    * is physically possible). Positions are the C9 derivation
    * (value, props.k); a segment teleports when dist > vmax·Δt with
    * vmax = 2 units/s, decided entirely in exact integers on ×10⁴
    * quantized coordinates: d² div Δt² > (vmax·10⁴)² — the division
    * form stays long-safe for arbitrarily large gaps where the
    * cross-multiplied form overflows (no sqrt on the decision
    * path). Per user: segment count, teleport count, and the worst
    * segment's 4-dp distance.
    *
    * Scale shape: one user-keyed window orders each user's events
    * by (ts, event_id) — parallel across the high-cardinality user
    * key; map-side integer segment math; one map-side-combined
    * rollup.
    */
  def geoSpeedAudit(t: Tables): DataFrame = {
    val pts = t.events.select(
      col("user_id"), col("event_id"),
      expr("unix_micros(ts)").as("us"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("x_fx"),
      expr("CAST(round(CAST(get_json_object(props, '$.k') AS DOUBLE) * 10000) AS BIGINT)")
        .as("y_fx"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val segs = pts
      .withColumn("px", lag(col("x_fx"), 1).over(w))
      .withColumn("py", lag(col("y_fx"), 1).over(w))
      .withColumn("pus", lag(col("us"), 1).over(w))
      .filter(col("px").isNotNull)
      .select(col("user_id"),
        expr("(x_fx - px) * (x_fx - px) + (y_fx - py) * (y_fx - py)").as("d2_fx"),
        expr("(us - pus) div 1000000").as("dt_s"))
      // teleport ⟺ d2 div dt² > (vmax·10⁴)² with vmax = 2 units/s:
      // the division form keeps every operand long-safe for
      // arbitrarily large gaps (4·10⁸·dt² overflows past ~52-day
      // gaps); dt = 0 clamps to 1 s (same-second fixes: any
      // movement is a teleport) — identical floor semantics both
      // engines.
      .withColumn("tele",
        when(expr("d2_fx div greatest(dt_s * dt_s, 1) > 400000000"), 1L).otherwise(0L))
    segs.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("tele")).as("n_teleports"),
        expr("round(sqrt(CAST(max(d2_fx) AS DOUBLE)) / 10000.0, 4)").as("max_dist"))
  }

  val geoSpeedAuditSql: String =
    """WITH pts AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CAST(round(value * 10000) AS BIGINT) AS x_fx,
      |    CAST(round(CAST(json_extract_string(props, '$.k') AS DOUBLE) * 10000) AS BIGINT) AS y_fx
      |  FROM events),
      |segs AS (
      |  SELECT user_id,
      |    x_fx - lag(x_fx) OVER w AS dx,
      |    y_fx - lag(y_fx) OVER w AS dy,
      |    (us - lag(us) OVER w) // 1000000 AS dt_s
      |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |d AS (
      |  SELECT user_id, dx * dx + dy * dy AS d2_fx, dt_s
      |  FROM segs WHERE dx IS NOT NULL)
      |SELECT user_id, count(*) AS n_segs,
      |  CAST(sum(CASE WHEN d2_fx // greatest(dt_s * dt_s, 1) > 400000000
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_teleports,
      |  round(sqrt(CAST(max(d2_fx) AS DOUBLE)) / 10000.0, 4) + 0 AS max_dist
      |FROM d GROUP BY 1""".stripMargin
}
