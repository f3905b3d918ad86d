package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 extension batch 58: Page–Hinkley sequential drift and
  * isotonic (monotone) regression — the two remaining classical
  * capabilities beside the existing drift family (D39 PSI, D66 KS,
  * G32 JSD, D74 CUSUM) and the calibration gap.
  */
object Pipeline55 {

  /** D114: Page–Hinkley sequential drift per event type over the
    * daily mean value — the SELF-STARTING companion to D74 CUSUM:
    * CUSUM scores deviation from a FIXED first-week baseline, PH
    * tracks deviation from the RUNNING mean of everything seen so
    * far (R_t = Σ(x_i − x̄_i − δ), alarm when R_t − min_{s≤t} R_s
    * exceeds λ), so it needs no warm-up window and keeps adapting
    * after level shifts. Deterministic integer variant: daily means
    * and the running mean are floor-quantized to ×10⁴ cents
    * (`div` — identical truncation in both engines), so every
    * cumulative sum is BIGINT-exact and order-independent — no
    * double accumulates across rows anywhere (the D74/C14
    * convention; quantization error is ≤ 1 cent per term, far
    * below any drift worth alarming on). δ = 50 cents, λ = 10⁴
    * cents (1.0 value units).
    *
    * Scale shape: one corpus scan into a (type, day)-keyed exact
    * long aggregate (map-side combined); every window below runs on
    * the calendar-bounded daily table (≤ type_count × days rows) —
    * partitioned by type, never global. Output is type-bounded.
    */
  def qPageHinkley(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 10000, 0) AS BIGINT)")).as("c"),
        count(lit(1)).as("n"))
      .withColumn("m", expr("c div n"))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = daily
      .withColumn("i", row_number().over(ord).cast("long"))
      .withColumn("cumm", sum(col("m")).over(cum))
      .withColumn("dev", col("m") - expr("cumm div i") - lit(50L))
      .withColumn("r", sum(col("dev")).over(cum))
      .withColumn("minr", min(col("r")).over(cum))
      .withColumn("ph", col("r") - col("minr"))
    ph.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("ph")).as("max_ph"),
        min(when(col("ph") > 10000L, col("day"))).as("alarm_day"))
  }

  val qPageHinkleySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS c,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |m0 AS (
      |  SELECT event_type, day, c // n AS m,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i
      |  FROM daily),
      |m1 AS (
      |  SELECT event_type, day, m, i,
      |    CAST(sum(m) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumm
      |  FROM m0),
      |m2 AS (
      |  SELECT event_type, day, i, m - (cumm // i) - 50 AS dev
      |  FROM m1),
      |m3 AS (
      |  SELECT event_type, day,
      |    CAST(sum(dev) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r
      |  FROM m2),
      |m4 AS (
      |  SELECT event_type, day, r,
      |    CAST(min(r) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS minr
      |  FROM m3)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |  CAST(max(r - minr) AS BIGINT) AS max_ph,
      |  min(CASE WHEN r - minr > 10000 THEN day END) AS alarm_day
      |FROM m4 GROUP BY 1""".stripMargin

  /** D115: isotonic (monotone non-decreasing) regression of the
    * daily corpus mean value — the PAVA fit by its MINIMAX
    * characterization ŷᵢ = max_{s≤i} min_{t≥i} avg(y[s..t])
    * (weighted by daily counts), which is what lets a DuckDB twin
    * state the EXACT same fit with an n³ triple join over the
    * calendar-bounded series: block averages are single double
    * divisions of exact long prefix sums (identical in both
    * engines), and min/max over them are order-free — no double ever
    * accumulates. The calibration primitive (monotone score → rate
    * mapping) the D-layer lacked beside its smoothers (D50 Holt-
    * Winters forecasts, this CONSTRAINS).
    *
    * Scale shape: one corpus scan into a day-keyed exact long
    * aggregate; the series itself is calendar-bounded (~31 rows at
    * ANY corpus size), so the O(n³) minimax runs driver-side over
    * collected prefix sums — the k-means-centroid convention, ~30 k
    * double ops. Output is day-bounded.
    */
  def qIsotonic(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 10000, 0) AS BIGINT)")).as("c"),
        count(lit(1)).as("n"))
      .orderBy(col("day"))
      .collect()
    val days = daily.map(_.getDate(0))
    val c = daily.map(_.getLong(1))
    val n = daily.map(_.getLong(2))
    val k = daily.length
    val cs = c.scanLeft(0L)(_ + _) // cs(i) = sum of first i
    val cn = n.scanLeft(0L)(_ + _)
    def avg(s: Int, t: Int): Double = // block [s..t], 0-indexed inclusive
      (cs(t + 1) - cs(s)).toDouble / (cn(t + 1) - cn(s)).toDouble
    val rows = (0 until k).map { i =>
      var best = Double.NegativeInfinity
      var s = 0
      while (s <= i) {
        var mn = Double.PositiveInfinity
        var tt = i
        while (tt < k) { val a = avg(s, tt); if (a < mn) mn = a; tt += 1 }
        if (mn > best) best = mn
        s += 1
      }
      val y = c(i).toDouble / n(i).toDouble / 10000.0
      val yhat = best / 10000.0
      (days(i),
        BigDecimal(y).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0,
        BigDecimal(yhat).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    }
    import t.spark.implicits._
    rows.toDF("day", "y", "yhat")
  }

  val qIsotonicSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS c,
      |    count(*) AS n
      |  FROM events GROUP BY 1),
      |idx AS (
      |  SELECT day, c, n,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
      |    CAST(sum(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
      |    CAST(sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
      |  FROM daily),
      |tri AS (
      |  SELECT i.i AS i, s.i AS s,
      |    min(CAST(t.cs - (s.cs - s.c) AS DOUBLE)
      |        / CAST(t.cn - (s.cn - s.n) AS DOUBLE)) AS minv
      |  FROM idx s, idx i, idx t
      |  WHERE s.i <= i.i AND i.i <= t.i
      |  GROUP BY 1, 2),
      |fit AS (SELECT i, max(minv) AS yhat FROM tri GROUP BY 1)
      |SELECT d.day,
      |  round(CAST(d.c AS DOUBLE) / CAST(d.n AS DOUBLE) / 10000, 4) + 0 AS y,
      |  round(f.yhat / 10000, 4) + 0 AS yhat
      |FROM idx d JOIN fit f ON f.i = d.i""".stripMargin
}
