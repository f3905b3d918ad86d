package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 extension batch 3: serial-correlation diagnostics over
  * the daily series — Durbin–Watson on trend residuals and the
  * Ljung–Box portmanteau. Both close the time-series toolbox gap
  * between D63's single-lag autocorrelation and D141's PACF: "are
  * the residuals white", asked the two standard ways.
  */
object Pipeline76 {

  /** D150 `q_durbin_watson`: Durbin–Watson statistic of the daily
    * revenue series' OLS-trend residuals, per event_type. The OLS
    * (a, b) comes closed-form from EXACT sums (day index t, cents
    * y as longs: n, Σt, Σy, Σt², Σty — the D58 convention), then
    * per-day residuals round to ×10⁶ fixed point so the numerator
    * Σ(eₜ−eₜ₋₁)² and denominator Σeₜ² accumulate as EXACT integers
    * (raw double sums would be order-dependent); DW = num/den, 4 dp.
    * DW ≈ 2 means white residuals; « 2 means the trend left serial
    * structure behind.
    *
    * Scale shape: the corpus collapses to per-(type, day) cents in
    * ONE map-side-combined agg; everything after runs on the
    * calendar-bounded table (lag window partitioned by type).
    */
  def qDurbinWatson(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.withColumn("t", row_number().over(wd).cast("long"))
    val fit = idx.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("st"), sum(col("y")).as("sy"),
        sum(col("t") * col("t")).as("stt"), sum(col("t") * col("y")).as("sty"))
      .select(col("event_type"),
        // b = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²), a = (Σy − b·Σt)/n
        ((col("n") * col("sty") - col("st") * col("sy")).cast("double")
          / (col("n") * col("stt") - col("st") * col("st")).cast("double")).as("b"),
        col("n"), col("st"), col("sy"))
      .select(col("event_type"), col("b"),
        ((col("sy").cast("double") - col("b") * col("st").cast("double"))
          / col("n").cast("double")).as("a"))
    val resid = idx.join(broadcast(fit), "event_type")
      .select(col("event_type"), col("day"),
        expr("CAST(round(1e6 * (CAST(y AS DOUBLE) - a - b * CAST(t AS DOUBLE))) AS BIGINT)")
          .as("e_fp"))
    val lagged = resid
      .withColumn("e_prev", lag(col("e_fp"), 1).over(wd))
    lagged.groupBy(col("event_type"))
      .agg(
        // first factor cast to DECIMAL before multiplying: e_fp can
        // reach ~1e13, so a long×long square overflows int64
        sum(when(col("e_prev").isNotNull,
          (col("e_fp") - col("e_prev")).cast("decimal(19,0)")
            * (col("e_fp") - col("e_prev")))).as("num"),
        sum(col("e_fp").cast("decimal(19,0)") * col("e_fp")).as("den"),
        count(lit(1)).as("n_days"))
      .select(col("event_type"), col("n_days"),
        round(col("num").cast("double") / col("den").cast("double"), 4).as("dw"))
  }

  val qDurbinWatsonSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |idx AS (
      |  SELECT event_type, day, y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t
      |  FROM daily),
      |fit0 AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(t*t) AS BIGINT) AS stt, CAST(sum(t*y) AS HUGEINT) AS sty
      |  FROM idx GROUP BY 1),
      |fit1 AS (
      |  SELECT event_type, n, st, sy,
      |    CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) AS b
      |  FROM fit0),
      |fit AS (
      |  SELECT event_type, b,
      |    (CAST(sy AS DOUBLE) - b * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE) AS a
      |  FROM fit1),
      |resid AS (
      |  SELECT i.event_type, i.day,
      |    CAST(round(1e6 * (CAST(i.y AS DOUBLE) - f.a - f.b * CAST(i.t AS DOUBLE))) AS BIGINT)
      |      AS e_fp
      |  FROM idx i JOIN fit f ON i.event_type = f.event_type),
      |lagged AS (
      |  SELECT event_type, e_fp,
      |    lag(e_fp) OVER (PARTITION BY event_type ORDER BY day) AS e_prev
      |  FROM resid)
      |SELECT event_type, count(*) AS n_days,
      |  round(CAST(sum(CASE WHEN e_prev IS NOT NULL
      |          THEN CAST((e_fp - e_prev) AS HUGEINT) * (e_fp - e_prev) END) AS DOUBLE)
      |        / CAST(sum(CAST(e_fp AS HUGEINT) * e_fp) AS DOUBLE), 4) + 0 AS dw
      |FROM lagged GROUP BY 1""".stripMargin

  /** D151 `q_ljung_box`: Ljung–Box portmanteau test at lags 1..5
    * over the daily count series per event_type —
    * Q = n(n+2)·Σₖ ρ̂ₖ²/(n−k), with ρ̂ₖ the lag-k Pearson correlation
    * of the series with itself (the D63 `corr` convention, NaN→NULL
    * normalized). "Is ANY of the first five lags informative", the
    * one-number whiteness gate. Five lag columns come from ONE
    * calendar-bounded window pass; one agg computes the five
    * correlations together.
    */
  def qLjungBox(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = (1 to 5).foldLeft(daily) { (df, k) =>
      df.withColumn(s"l$k", lag(col("cnt"), k).over(wd))
    }
    val aggCols = count(lit(1)).as("n") +: (1 to 5).map(k =>
      corr(col("cnt"), col(s"l$k")).as(s"r$k"))
    val cors = lagged.groupBy(col("event_type"))
      .agg(aggCols.head, aggCols.tail: _*)
    val n = col("n").cast("double")
    val q = (1 to 5).map { k =>
      val rk = when(isnan(col(s"r$k")) || col(s"r$k").isNull, lit(0.0))
        .otherwise(col(s"r$k"))
      rk * rk / (n - lit(k.toDouble))
    }.reduce(_ + _) * n * (n + lit(2.0))
    cors.select(col("event_type"), col("n").as("n_days"), round(q, 4).as("q_stat"))
  }

  val qLjungBoxSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS DOUBLE) AS cnt
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, cnt,
      |    lag(cnt, 1) OVER w AS l1, lag(cnt, 2) OVER w AS l2,
      |    lag(cnt, 3) OVER w AS l3, lag(cnt, 4) OVER w AS l4,
      |    lag(cnt, 5) OVER w AS l5
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |cors AS (
      |  SELECT event_type, count(*) AS n,
      |    corr(cnt, l1) AS r1, corr(cnt, l2) AS r2, corr(cnt, l3) AS r3,
      |    corr(cnt, l4) AS r4, corr(cnt, l5) AS r5
      |  FROM lagged GROUP BY 1)
      |SELECT event_type, n AS n_days,
      |  round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * (
      |    coalesce(r1, 0) * coalesce(r1, 0) / (CAST(n AS DOUBLE) - 1.0)
      |    + coalesce(r2, 0) * coalesce(r2, 0) / (CAST(n AS DOUBLE) - 2.0)
      |    + coalesce(r3, 0) * coalesce(r3, 0) / (CAST(n AS DOUBLE) - 3.0)
      |    + coalesce(r4, 0) * coalesce(r4, 0) / (CAST(n AS DOUBLE) - 4.0)
      |    + coalesce(r5, 0) * coalesce(r5, 0) / (CAST(n AS DOUBLE) - 5.0)), 4) + 0
      |    AS q_stat
      |FROM cors""".stripMargin
}
