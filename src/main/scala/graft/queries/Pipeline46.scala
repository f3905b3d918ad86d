package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 43: mix-vs-rate decomposition — the
  * "why did the average move" answer behind every metric review.
  */
object Pipeline46 {

  /** D104: Oaxaca-style mix/rate decomposition of the change in
    * mean event value between the first 15 days and the rest, per
    * event type: Δ = Σₛ (w₂−w₁)·r₁  (mix: the traffic moved toward
    * cheaper/dearer segments) + Σₛ w₂·(r₂−r₁) (rate: the segments
    * themselves got cheaper/dearer). The decomposition a metrics
    * review runs before anyone is paged — "average dropped" means
    * something different when it's mix shift. Shares and rates are
    * ×10⁶ floor-division integers; the product terms divide once
    * more by 10⁶, so every emitted contribution is an exact integer
    * both engines reproduce bit-for-bit (sums of these per-type
    * rows reconstruct the headline Δ up to the documented ±1-ppm
    * flooring per term).
    *
    * Scale shape: ONE corpus collapse to (period, type) count/sum
    * cells (map-side combined), conditional-pivoted to a row per
    * type against the 2-row period totals broadcast — everything
    * after the collapse is |types|-bounded.
    */
  def qMixDecompose(t: Tables): DataFrame = {
    // ONE corpus exchange: collapse to (type, day) count/sum cells;
    // the period split, both period rollups and the totals all run
    // on the calendar×types-bounded cell table.
    val cells = t.events.select(col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      // Two consumers (min-day + the period rollup) — checkpoint the
      // types×days-bounded cells so the corpus pays exactly one pass.
      .localCheckpoint(true)
    val minDay = cells.agg(min(col("day")).as("d0"))
    val byType = cells.crossJoin(broadcast(minDay))
      .withColumn("p", when(col("day") < col("d0") + 15, 1).otherwise(2))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("p") === 1, col("n")).otherwise(0L)).as("n1"),
        sum(when(col("p") === 1, col("s")).otherwise(0L)).as("s1"),
        sum(when(col("p") === 2, col("n")).otherwise(0L)).as("n2"),
        sum(when(col("p") === 2, col("s")).otherwise(0L)).as("s2"))
    val totals = byType.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    byType.crossJoin(broadcast(totals))
      .select(col("event_type"), col("n1"), col("n2"),
        expr("(1000000 * n1) div t1").as("w1_fx"),
        expr("(1000000 * n2) div t2").as("w2_fx"),
        expr("(1000000 * s1) div (100 * n1)").as("r1_fx"),
        expr("(1000000 * s2) div (100 * n2)").as("r2_fx"),
        expr("""((((1000000 * n2) div t2) - ((1000000 * n1) div t1))
               |  * ((1000000 * s1) div (100 * n1))) div 1000000""".stripMargin)
          .as("mix_fx"),
        expr("""(((1000000 * n2) div t2)
               |  * (((1000000 * s2) div (100 * n2)) - ((1000000 * s1) div (100 * n1)))) div 1000000""".stripMargin)
          .as("rate_fx"))
  }

  val qMixDecomposeSql: String =
    """WITH cells AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n,
      |    sum(CAST(round(value * 100) AS BIGINT)) AS s
      |  FROM events GROUP BY 1, 2),
      |d0 AS (SELECT min(day) AS d0 FROM cells),
      |m AS (
      |  SELECT event_type, n, s,
      |    CASE WHEN day < d0 + 15 THEN 1 ELSE 2 END AS p
      |  FROM cells CROSS JOIN d0),
      |bt AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN p = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN p = 1 THEN s ELSE 0 END) AS BIGINT) AS s1,
      |    CAST(sum(CASE WHEN p = 2 THEN n ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN p = 2 THEN s ELSE 0 END) AS BIGINT) AS s2
      |  FROM m GROUP BY 1),
      |t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2 FROM bt)
      |SELECT event_type, n1, n2,
      |  (1000000 * n1) // t1 AS w1_fx,
      |  (1000000 * n2) // t2 AS w2_fx,
      |  (1000000 * s1) // (100 * n1) AS r1_fx,
      |  (1000000 * s2) // (100 * n2) AS r2_fx,
      |  ((((1000000 * n2) // t2) - ((1000000 * n1) // t1))
      |    * ((1000000 * s1) // (100 * n1))) // 1000000 AS mix_fx,
      |  (((1000000 * n2) // t2)
      |    * (((1000000 * s2) // (100 * n2)) - ((1000000 * s1) // (100 * n1)))) // 1000000 AS rate_fx
      |FROM bt CROSS JOIN t""".stripMargin
}
