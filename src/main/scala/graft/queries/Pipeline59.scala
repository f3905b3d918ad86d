package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 extension batch 62: Mann–Kendall trend test and the
  * Wald–Wolfowitz runs test — the nonparametric TREND and
  * RANDOMNESS reads over the daily series (the drift family answers
  * "did the level move?"; these answer "is there a monotone trend?"
  * and "is the sequence even random?").
  */
object Pipeline59 {

  /** The shared daily series: per-day mean value as exact ×10⁴ cents
    * (floor-div — the D114 quantization), calendar-bounded.
    */
  private def dailyMean(t: Tables): DataFrame =
    t.events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 10000, 0) AS BIGINT)")).as("c"),
        count(lit(1)).as("n"))
      .withColumn("m", expr("c div n"))

  /** D124: Mann–Kendall trend test over the daily mean value —
    * S = Σ_{i<j} sign(m_j − m_i), the standard nonparametric
    * monotone-trend read (robust to any monotone transform of the
    * series, no linearity assumption — D80 Theil–Sen estimates the
    * SLOPE, this tests SIGNIFICANCE). Exact integers throughout:
    * S from the day-pair self-join of the calendar-bounded series
    * (≤ n²/2 ≈ 500 pairs at ~31 days — bounded at ANY corpus
    * size), the tie-corrected variance ×18 as
    * n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) BIGINT, and the continuity-
    * corrected Z = (S ∓ 1)/√(V₁₈/18) as ONE fixed-order double,
    * 4 dp.
    *
    * Scale shape: one corpus scan into the day-keyed exact agg; the
    * pair join and tie groups run on the ~31-row daily table. No
    * window at all.
    */
  def qMannKendall(t: Tables): DataFrame = {
    val daily = dailyMean(t).select(col("day"), col("m")).localCheckpoint(true)
    val s = daily.as("a").join(daily.as("b"), col("a.day") < col("b.day"))
      .agg(sum(signum(col("b.m") - col("a.m")).cast("long")).as("s"),
        count(lit(1)).as("n_pairs"))
    val nRow = daily.agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("m")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie18"))
    s.crossJoin(broadcast(nRow)).crossJoin(broadcast(ties))
      .select(col("n"), col("s"),
        (expr("n * (n - 1) * (2 * n + 5)") - col("tie18")).as("var_s_x18"))
      .withColumn("z",
        when(col("s") === 0L, lit(0.0)).otherwise(
          round((col("s") - signum(col("s")).cast("long")).cast("double")
            / sqrt(col("var_s_x18").cast("double") / lit(18.0)), 4)))
  }

  val qMannKendallSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
      |      // count(*) AS m
      |  FROM events GROUP BY 1),
      |s AS (
      |  SELECT CAST(sum(CASE WHEN b.m > a.m THEN 1
      |                       WHEN b.m < a.m THEN -1 ELSE 0 END) AS BIGINT) AS s
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
      |ties AS (
      |  SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie18
      |  FROM (SELECT count(*) AS t FROM daily GROUP BY m))
      |SELECT n, s,
      |  CAST(n * (n - 1) * (2 * n + 5) - tie18 AS BIGINT) AS var_s_x18,
      |  CASE WHEN s = 0 THEN 0.0 ELSE
      |    round(CAST(s - CASE WHEN s > 0 THEN 1 ELSE -1 END AS DOUBLE)
      |      / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie18 AS DOUBLE) / 18.0), 4) + 0
      |  END AS z
      |FROM s, nn, ties""".stripMargin

  /** D125: Wald–Wolfowitz runs test of the daily mean series against
    * its own lower median — "is the above/below-median sequence
    * RANDOM, or does it cluster?" (too FEW runs = regime persistence
    * the trend test can miss when regimes alternate; too MANY =
    * oscillation). The median is positional (row (n+1)/2 of the
    * value order — exact integer, no interpolation); runs counted by
    * one lag over the day order; E[R] = 1 + 2·n1·n2/n and
    * Var[R] = 2n1n2(2n1n2 − n)/(n²(n−1)) from exact counts; Z one
    * fixed-order double, 4 dp. Days equal to the median count as
    * BELOW (≤ median), the stated tie policy.
    *
    * Scale shape: the two unpartitioned windows (median rank, lag)
    * run on the CALENDAR-BOUNDED ~31-row daily table — allowlisted
    * with that argument; the corpus-sized work is the one day-keyed
    * exact agg.
    */
  def qRunsTest(t: Tables): DataFrame = {
    val daily = dailyMean(t).select(col("day"), col("m")).localCheckpoint(true)
    val byVal = Window.orderBy(col("m"), col("day"))
    val med = daily.withColumn("rk", row_number().over(byVal))
    val n = daily.count()
    val medVal = med.filter(col("rk") === (n + 1) / 2).select(col("m")).head().getLong(0)
    val byDay = Window.orderBy(col("day"))
    val signed = daily.withColumn("above", (col("m") > medVal).cast("int"))
      .withColumn("prev", lag(col("above"), 1).over(byDay))
    signed.agg(
      count(lit(1)).as("n"),
      sum(col("above").cast("long")).as("n1"),
      sum(lit(1L) - col("above").cast("long")).as("n2"),
      (sum(when(col("prev").isNull || col("prev") =!= col("above"), 1L)
        .otherwise(0L))).as("runs"))
      .select(col("n"), col("n1"), col("n2"), col("runs"),
        round((col("runs").cast("double")
          - (lit(1.0) + lit(2.0) * col("n1").cast("double") * col("n2").cast("double")
            / col("n").cast("double")))
          / sqrt(lit(2.0) * col("n1").cast("double") * col("n2").cast("double")
            * (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")
              - col("n").cast("double"))
            / (col("n").cast("double") * col("n").cast("double")
              * (col("n").cast("double") - lit(1.0)))), 4).as("z"))
  }

  val qRunsTestSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT)
      |      // count(*) AS m
      |  FROM events GROUP BY 1),
      |med AS (
      |  SELECT m FROM (
      |    SELECT m, row_number() OVER (ORDER BY m, day) AS rk FROM daily) x
      |  WHERE rk = (SELECT (count(*) + 1) // 2 FROM daily)),
      |sgn AS (
      |  SELECT day, CASE WHEN m > (SELECT m FROM med) THEN 1 ELSE 0 END AS above
      |  FROM daily),
      |lagged AS (
      |  SELECT above, lag(above) OVER (ORDER BY day) AS prev FROM sgn)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(above) AS BIGINT) AS n1,
      |  CAST(sum(1 - above) AS BIGINT) AS n2,
      |  CAST(sum(CASE WHEN prev IS NULL OR prev <> above THEN 1 ELSE 0 END) AS BIGINT)
      |    AS runs,
      |  round((CAST(sum(CASE WHEN prev IS NULL OR prev <> above THEN 1 ELSE 0 END)
      |           AS DOUBLE)
      |    - (1.0 + 2.0 * CAST(sum(above) AS DOUBLE) * CAST(sum(1 - above) AS DOUBLE)
      |      / CAST(count(*) AS DOUBLE)))
      |    / sqrt(2.0 * CAST(sum(above) AS DOUBLE) * CAST(sum(1 - above) AS DOUBLE)
      |      * (2.0 * CAST(sum(above) AS DOUBLE) * CAST(sum(1 - above) AS DOUBLE)
      |        - CAST(count(*) AS DOUBLE))
      |      / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
      |        * (CAST(count(*) AS DOUBLE) - 1.0))), 4) + 0 AS z
      |FROM lagged""".stripMargin
}
