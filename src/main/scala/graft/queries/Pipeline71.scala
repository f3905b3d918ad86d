package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 batch 73: the time-series econometrics pair — the
  * Newey–West HAC standard error (the autocorrelation-robust SE
  * every daily-metric experiment needs once D141's PACF shows the
  * series is NOT white noise — a naive s/√n there understates the
  * uncertainty) and Engle–Granger cointegration (do two drifting
  * series share the drift — the "couple these metrics" test D71's
  * rolling correlation of LEVELS gets wrong under common trends).
  */
object Pipeline71 {

  private val cents = "CAST(round(value * 100) AS BIGINT)"

  /** D143 `q_newey_west`: HAC (Bartlett kernel, L = 3) long-run
    * variance and robust SE of the daily mean revenue —
    * lrv = c₀ + 2·Σ_{k≤3}(1 − k/4)·c_k over the stationary
    * autocovariances, SE = √(lrv/N). Exactly the D141 covariance
    * machinery pointed at uncertainty instead of AR order.
    *
    * Scale shape: one daily collapse; lag windows on the
    * calendar-bounded daily table (allowlisted: single global
    * series); one 1-row moment fold.
    */
  def qNeweyWest(t: Tables): DataFrame = {
    // Dollars, not cents: the daily-total autocovariances land near
    // 1e11 in cents², where a 4-dp round sits AT double's ulp and
    // forked the two engines on the last digit in bring-up — /100
    // buys four orders of rounding headroom.
    val daily = t.events
      .groupBy(to_date(col("ts")).as("day"))
      .agg((sum(expr(cents)).cast("double") / 100.0).as("x"))
      .localCheckpoint(true) // calendar-bounded (~31 rows)
    val w = Window.orderBy(col("day"))
    val lagged = daily
      .withColumn("x1", lag(col("x"), 1).over(w))
      .withColumn("x2", lag(col("x"), 2).over(w))
      .withColumn("x3", lag(col("x"), 3).over(w))
      .crossJoin(broadcast(daily.agg(
        (sum(col("x")) / count(lit(1))).as("m"), count(lit(1)).as("nd"))))
    val cov = lagged.agg(
      first(col("nd")).as("n"),
      (sum((col("x") - col("m")) * (col("x") - col("m")))
        / first(col("nd")).cast("double")).as("c0"),
      (sum(when(col("x1").isNotNull, (col("x") - col("m")) * (col("x1") - col("m")))
        .otherwise(0.0)) / first(col("nd")).cast("double")).as("c1"),
      (sum(when(col("x2").isNotNull, (col("x") - col("m")) * (col("x2") - col("m")))
        .otherwise(0.0)) / first(col("nd")).cast("double")).as("c2"),
      (sum(when(col("x3").isNotNull, (col("x") - col("m")) * (col("x3") - col("m")))
        .otherwise(0.0)) / first(col("nd")).cast("double")).as("c3"))
    cov.select(col("n"),
      round(col("c0"), 4).as("c0"), round(col("c1"), 4).as("c1"),
      round(col("c2"), 4).as("c2"), round(col("c3"), 4).as("c3"),
      round(col("c0") + lit(2.0) * (lit(0.75) * col("c1")
        + lit(0.5) * col("c2") + lit(0.25) * col("c3")), 4).as("lrv"),
      round(sqrt((col("c0") + lit(2.0) * (lit(0.75) * col("c1")
        + lit(0.5) * col("c2") + lit(0.25) * col("c3")))
        / col("n").cast("double")), 4).as("se_hac"),
      round(sqrt(col("c0") / col("n").cast("double")), 4).as("se_naive"))
  }

  val qNeweyWestSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS x
      |  FROM events GROUP BY 1),
      |m AS (SELECT sum(x) / count(*) AS m, count(*) AS nd FROM daily),
      |lagged AS (
      |  SELECT x,
      |    lag(x, 1) OVER (ORDER BY day) AS x1,
      |    lag(x, 2) OVER (ORDER BY day) AS x2,
      |    lag(x, 3) OVER (ORDER BY day) AS x3,
      |    m, nd
      |  FROM daily CROSS JOIN m),
      |cov AS (
      |  SELECT CAST(max(nd) AS BIGINT) AS n,
      |    sum((x - m) * (x - m)) / max(nd) AS c0,
      |    sum(CASE WHEN x1 IS NOT NULL THEN (x - m) * (x1 - m) ELSE 0 END)
      |      / max(nd) AS c1,
      |    sum(CASE WHEN x2 IS NOT NULL THEN (x - m) * (x2 - m) ELSE 0 END)
      |      / max(nd) AS c2,
      |    sum(CASE WHEN x3 IS NOT NULL THEN (x - m) * (x3 - m) ELSE 0 END)
      |      / max(nd) AS c3
      |  FROM lagged)
      |SELECT n, round(c0, 4) + 0 AS c0, round(c1, 4) + 0 AS c1,
      |  round(c2, 4) + 0 AS c2, round(c3, 4) + 0 AS c3,
      |  round(c0 + 2.0 * (0.75 * c1 + 0.5 * c2 + 0.25 * c3), 4) + 0 AS lrv,
      |  round(sqrt((c0 + 2.0 * (0.75 * c1 + 0.5 * c2 + 0.25 * c3)) / n), 4) + 0
      |    AS se_hac,
      |  round(sqrt(c0 / n), 4) + 0 AS se_naive
      |FROM cov""".stripMargin

  /** D144 `q_engle_granger`: two-step cointegration test between
    * the click and view daily mean series — OLS of A on B, then the
    * Dickey–Fuller t-statistic of the residuals' mean-reversion
    * (Δe_t = γ·e_{t−1}; γ significantly negative ⇒ the pair shares
    * its drift). Everything is closed-form moment algebra on the
    * day-paired table — no iteration, no matrix solve.
    *
    * Scale shape: one (type, day) collapse + a day-keyed self-pair;
    * the OLS and DF folds are 1-row aggregates; the single lag
    * window runs on the calendar-bounded residual series.
    */
  def qEngleGranger(t: Tables): DataFrame = {
    val daily = t.events
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(expr(cents)).cast("double") / count(lit(1))).as("v"))
    val paired = daily.groupBy(col("day"))
      .agg(
        sum(when(col("event_type") === "click", col("v"))).as("a"),
        sum(when(col("event_type") === "view", col("v"))).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .localCheckpoint(true) // calendar-bounded
    val ols = paired.agg(
      count(lit(1)).as("n"), (sum(col("a")) / count(lit(1))).as("ma"),
      (sum(col("b")) / count(lit(1))).as("mb"),
      sum(col("a") * col("b")).as("sab"), sum(col("b") * col("b")).as("sbb"))
      .select(col("n"), col("ma"), col("mb"),
        ((col("sab") - col("n").cast("double") * col("ma") * col("mb"))
          / (col("sbb") - col("n").cast("double") * col("mb") * col("mb"))).as("slope"))
    val resid = paired.crossJoin(broadcast(ols))
      .select(col("day"),
        (col("a") - (col("ma") - col("slope") * col("mb"))
          - col("slope") * col("b")).as("e"),
        col("n"), col("slope"))
    val w = Window.orderBy(col("day"))
    val df = resid
      .withColumn("e1", lag(col("e"), 1).over(w))
      .filter(col("e1").isNotNull)
      .select(col("n"), col("slope"), col("e"), col("e1"),
        (col("e") - col("e1")).as("de"))
    df.groupBy(col("n"), col("slope"))
      .agg(
        count(lit(1)).as("np"),
        sum(col("e1") * col("de")).as("s1d"),
        sum(col("e1") * col("e1")).as("s11"),
        sum(col("de") * col("de")).as("sdd"))
      .select(col("n"), round(col("slope"), 4).as("slope"),
        round(col("s1d") / col("s11"), 4).as("gamma"),
        round((col("s1d") / col("s11"))
          / sqrt(((col("sdd") - col("s1d") * col("s1d") / col("s11"))
            / (col("np").cast("double") - 1.0)) / col("s11")), 4).as("df_t"))
  }

  val qEngleGrangerSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(*) AS v
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
      |paired AS (
      |  SELECT day,
      |    sum(CASE WHEN event_type = 'click' THEN v END) AS a,
      |    sum(CASE WHEN event_type = 'view' THEN v END) AS b
      |  FROM daily GROUP BY 1
      |  HAVING sum(CASE WHEN event_type = 'click' THEN v END) IS NOT NULL
      |     AND sum(CASE WHEN event_type = 'view' THEN v END) IS NOT NULL),
      |ols AS (
      |  SELECT count(*) AS n, sum(a) / count(*) AS ma, sum(b) / count(*) AS mb,
      |    (sum(a * b) - count(*) * (sum(a) / count(*)) * (sum(b) / count(*)))
      |      / (sum(b * b) - count(*) * (sum(b) / count(*)) * (sum(b) / count(*)))
      |      AS slope
      |  FROM paired),
      |resid AS (
      |  SELECT day, a - (ma - slope * mb) - slope * b AS e, n, slope
      |  FROM paired CROSS JOIN ols),
      |lagd AS (
      |  SELECT n, slope, e, lag(e) OVER (ORDER BY day) AS e1
      |  FROM resid),
      |fold AS (
      |  SELECT CAST(n AS BIGINT) AS n, slope, count(*) AS np,
      |    sum(e1 * (e - e1)) AS s1d,
      |    sum(e1 * e1) AS s11,
      |    sum((e - e1) * (e - e1)) AS sdd
      |  FROM lagd WHERE e1 IS NOT NULL GROUP BY 1, 2)
      |SELECT n, round(slope, 4) + 0 AS slope,
      |  round(s1d / s11, 4) + 0 AS gamma,
      |  round((s1d / s11)
      |    / sqrt(((sdd - s1d * s1d / s11) / (np - 1.0)) / s11), 4) + 0 AS df_t
      |FROM fold""".stripMargin
}
