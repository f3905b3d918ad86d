package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 44: classical series decomposition and
  * forecast backtesting — what a metrics platform runs NEXT to the
  * D55/D56/D102 forecast family: explain the series, then prove
  * which forecaster earns the dashboard slot.
  */
object Pipeline47 {

  /** D105: STL-lite seasonal decomposition of the daily value series
    * per event type: trend = 7-day CENTERED moving average (full
    * windows only), detrended = x − trend, seasonal = per-weekday
    * mean of the detrended series — the DECOMPOSITION view next to
    * D102's forecast (Holt-Winters predicts; this explains what the
    * series is made of). Emitted per (type, weekday): the seasonal
    * component and its support count, ×10⁴ exact integers (the
    * centered MA is Σ7 div 7; the weekday mean divides once more at
    * emission — floor division both engines).
    *
    * Scale shape: ONE corpus collapse to (type, day) sums; the MA
    * window and the weekday rollup run on the calendar-bounded
    * table (≤ types × days rows).
    */
  def qSeasonalDecompose(t: Tables): DataFrame = {
    val daily = t.events.select(
      col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("v_fx")).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("ma_n", count(lit(1)).over(w))
      .withColumn("trend", sum(col("x")).over(w))
      .filter(col("ma_n") === 7) // full centered windows only
      .select(col("event_type"), col("day"),
        (col("x") - expr("trend div 7")).as("det"))
    trended
      .groupBy(col("event_type"), pmod(col("day"), lit(7)).as("weekday"))
      .agg(count(lit(1)).as("n_days"),
        expr("CAST(sum(det) AS BIGINT)").as("det_sum"))
      .select(col("event_type"), col("weekday"), col("n_days"),
        expr("det_sum div n_days").as("seasonal_fx"))
  }

  val qSeasonalDecomposeSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT event_type, day, x,
      |    count(*) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ma_n,
      |    sum(x) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
      |  FROM daily),
      |det AS (
      |  SELECT event_type, day, x - (trend // 7) AS det
      |  FROM tr WHERE ma_n = 7)
      |SELECT event_type, day % 7 AS weekday, count(*) AS n_days,
      |  CAST(CAST(sum(det) AS BIGINT) // count(*) AS BIGINT) AS seasonal_fx
      |FROM det GROUP BY 1, 2""".stripMargin

  /** D106: rolling-origin forecast backtest — per event type the
    * mean absolute error of the NAIVE (yesterday) vs SEASONAL-NAIVE
    * (same weekday last week) one-step forecasts over the daily
    * value series, plus which one wins. The model-selection gate
    * before D56/D102 earn a dashboard slot: if seasonal-naive
    * doesn't beat naive, weekly seasonality isn't real. Exact ×10⁴
    * integer absolute errors; MAE divides once at emission.
    *
    * Scale shape: one corpus collapse to (type, day); both lag
    * forecasts are per-type windows on the calendar-bounded table;
    * only days where BOTH forecasters have history score (fair
    * comparison on the identical support set).
    */
  def qBacktestMae(t: Tables): DataFrame = {
    val daily = t.events.select(
      col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("v_fx")).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("naive", lag(col("x"), 1).over(w))
      .withColumn("snaive", lag(col("x"), 7).over(w))
      .filter(col("naive").isNotNull && col("snaive").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("x") - col("naive"))).as("ae_naive"),
        sum(abs(col("x") - col("snaive"))).as("ae_snaive"))
      .select(col("event_type"), col("n_days"),
        expr("ae_naive div n_days").as("mae_naive_fx"),
        expr("ae_snaive div n_days").as("mae_snaive_fx"),
        when(col("ae_snaive") < col("ae_naive"), "seasonal_naive")
          .otherwise("naive").as("winner"))
  }

  val qBacktestMaeSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, x,
      |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS naive,
      |    lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS snaive
      |  FROM daily),
      |s AS (
      |  SELECT event_type, count(*) AS n_days,
      |    CAST(sum(abs(x - naive)) AS BIGINT) AS ae_naive,
      |    CAST(sum(abs(x - snaive)) AS BIGINT) AS ae_snaive
      |  FROM lagged
      |  WHERE naive IS NOT NULL AND snaive IS NOT NULL
      |  GROUP BY 1)
      |SELECT event_type, n_days,
      |  ae_naive // n_days AS mae_naive_fx,
      |  ae_snaive // n_days AS mae_snaive_fx,
      |  CASE WHEN ae_snaive < ae_naive THEN 'seasonal_naive'
      |       ELSE 'naive' END AS winner
      |FROM s""".stripMargin
}
