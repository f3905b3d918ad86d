package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 batch 69: the experiment-analysis quartet that closes
  * the two-sample family — odds ratio with Woolf CI (the effect
  * size behind D52's lift), TOST equivalence (the "prove they're
  * the SAME" inversion of D72's difference test), the two-sample
  * Poisson rate test (counts-per-exposure, where D72 compares
  * means), and Bollinger breakout bands (the rolling-σ control
  * chart beside D74's CUSUM and I16's streaming z-score).
  */
object Pipeline67 {

  private val cents = "CAST(round(value * 100) AS BIGINT)"

  /** D137 `q_odds_ratio`: association between signing up and
    * purchasing at user grain — 2×2 user table (exposure = any
    * `signup` event, outcome = any `purchase`), Haldane–Anscombe
    * +0.5 correction, Woolf's log-OR standard error and its 95% CI.
    *
    * Scale shape: ONE user-keyed boolean-flag agg + one 1-row cell
    * rollup; the OR arithmetic is 1-row math.
    */
  def qOddsRatio(t: Tables): DataFrame = {
    val flags = t.events
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("e"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("o"))
    val cells = flags.agg(
      sum(when(col("e") === 1L && col("o") === 1L, 1L).otherwise(0L)).as("a"),
      sum(when(col("e") === 1L && col("o") === 0L, 1L).otherwise(0L)).as("b"),
      sum(when(col("e") === 0L && col("o") === 1L, 1L).otherwise(0L)).as("c"),
      sum(when(col("e") === 0L && col("o") === 0L, 1L).otherwise(0L)).as("d"))
    val or = (col("a").cast("double") + 0.5) * (col("d").cast("double") + 0.5) /
      ((col("b").cast("double") + 0.5) * (col("c").cast("double") + 0.5))
    val se = sqrt(lit(1.0) / (col("a").cast("double") + 0.5)
      + lit(1.0) / (col("b").cast("double") + 0.5)
      + lit(1.0) / (col("c").cast("double") + 0.5)
      + lit(1.0) / (col("d").cast("double") + 0.5))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      round(or, 4).as("odds_ratio"),
      round(exp(log(or) - lit(1.96) * se), 4).as("ci_lo"),
      round(exp(log(or) + lit(1.96) * se), 4).as("ci_hi"))
  }

  val qOddsRatioSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS e,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS o
      |  FROM events GROUP BY 1),
      |cells AS (
      |  SELECT
      |    CAST(sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM f)
      |SELECT a, b, c, d,
      |  round((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)), 4) + 0 AS odds_ratio,
      |  round(exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
      |    - 1.96 * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5) + 1.0/(c + 0.5) + 1.0/(d + 0.5))),
      |    4) + 0 AS ci_lo,
      |  round(exp(ln((a + 0.5) * (d + 0.5) / ((b + 0.5) * (c + 0.5)))
      |    + 1.96 * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5) + 1.0/(c + 0.5) + 1.0/(d + 0.5))),
      |    4) + 0 AS ci_hi
      |FROM cells""".stripMargin

  /** D138 `q_tost`: two-one-sided-tests equivalence between `click`
    * and `view` mean event values with a ±500-cent margin, on the
    * Welch standard error (the D72 moment row). Where D72 asks "are
    * they different", TOST asks "are they provably WITHIN δ" —
    * the absence-of-evidence fallacy fixed. Equivalence holds iff
    * min(z_lower, z_upper) > 1.645 (both one-sided tests reject),
    * compared on 4-dp-rounded z's so the boundary is deterministic.
    *
    * Scale shape: one map-side-combined two-group moment agg; the
    * TOST is 1-row arithmetic.
    */
  def qTost(t: Tables): DataFrame = {
    val m = t.events
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), expr(cents).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"), sum(expr("c * c")).as("s2"))
    val w = m.agg(
      sum(when(col("event_type") === "click", col("n"))).as("na"),
      sum(when(col("event_type") === "click", col("s1"))).as("sa1"),
      sum(when(col("event_type") === "click", col("s2"))).as("sa2"),
      sum(when(col("event_type") === "view", col("n"))).as("nb"),
      sum(when(col("event_type") === "view", col("s1"))).as("sb1"),
      sum(when(col("event_type") === "view", col("s2"))).as("sb2"))
    def mean(s: String, n: String) = col(s).cast("double") / col(n).cast("double")
    def varOverN(s2: String, s1: String, n: String) =
      (col(s2).cast("double") / col(n).cast("double")
        - mean(s1, n) * mean(s1, n)) / col(n).cast("double")
    val diff = mean("sa1", "na") - mean("sb1", "nb")
    val se = sqrt(varOverN("sa2", "sa1", "na") + varOverN("sb2", "sb1", "nb"))
    val delta = lit(500.0)
    w.select(
      col("na"), col("nb"),
      round(diff, 4).as("diff_c"),
      round(se, 4).as("se"),
      round((diff + delta) / se, 4).as("z_lower"),
      round((delta - diff) / se, 4).as("z_upper"))
      .withColumn("equivalent",
        (least(col("z_lower"), col("z_upper")) > 1.645).cast("long"))
  }

  val qTostSql: String =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)
      |             * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
      |w AS (
      |  SELECT
      |    CAST(sum(CASE WHEN event_type = 'click' THEN n END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN s1 END) AS BIGINT) AS sa1,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN s2 END) AS BIGINT) AS sa2,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN n END) AS BIGINT) AS nb,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN s1 END) AS BIGINT) AS sb1,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN s2 END) AS BIGINT) AS sb2
      |  FROM m),
      |z AS (
      |  SELECT na, nb,
      |    CAST(sa1 AS DOUBLE) / na - CAST(sb1 AS DOUBLE) / nb AS diff_c,
      |    sqrt((CAST(sa2 AS DOUBLE) / na
      |          - (CAST(sa1 AS DOUBLE) / na) * (CAST(sa1 AS DOUBLE) / na)) / na
      |       + (CAST(sb2 AS DOUBLE) / nb
      |          - (CAST(sb1 AS DOUBLE) / nb) * (CAST(sb1 AS DOUBLE) / nb)) / nb) AS se
      |  FROM w)
      |SELECT na, nb, round(diff_c, 4) + 0 AS diff_c, round(se, 4) + 0 AS se,
      |  round((diff_c + 500.0) / se, 4) + 0 AS z_lower,
      |  round((500.0 - diff_c) / se, 4) + 0 AS z_upper,
      |  CAST(CASE WHEN least(round((diff_c + 500.0) / se, 4),
      |                       round((500.0 - diff_c) / se, 4)) > 1.645
      |            THEN 1 ELSE 0 END AS BIGINT) AS equivalent
      |FROM z""".stripMargin

  /** D139 `q_poisson_rate`: two-sample Poisson rate comparison of
    * `error` events in the first vs the last 7-day window —
    * conditional on the total, x₁ ~ Binomial(n, ½) under H₀ (equal
    * exposure), so z = (x₁ − n/2)/√(n/4); plus the rate ratio.
    * The "did the error rate change between releases" test D72's
    * mean comparison doesn't cover (counts, not values).
    *
    * Scale shape: one filtered 1-row aggregate; parquet row-group
    * stats prune everything outside the two windows.
    */
  def qPoissonRate(t: Tables): DataFrame = {
    val x = t.events
      .filter(col("event_type") === "error")
      .agg(
        sum(when(dayofmonth(col("ts")) <= 7, 1L).otherwise(0L)).as("x1"),
        sum(when(dayofmonth(col("ts")) >= 24, 1L).otherwise(0L)).as("x2"))
    x.select(col("x1"), col("x2"),
      round(col("x1").cast("double") / col("x2").cast("double"), 4).as("rate_ratio"),
      round((col("x1").cast("double")
        - (col("x1") + col("x2")).cast("double") / 2.0)
        / sqrt((col("x1") + col("x2")).cast("double") / 4.0), 4).as("z"))
  }

  val qPoissonRateSql: String =
    """WITH x AS (
      |  SELECT
      |    CAST(sum(CASE WHEN extract(day FROM ts) <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS x1,
      |    CAST(sum(CASE WHEN extract(day FROM ts) >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS x2
      |  FROM events WHERE event_type = 'error')
      |SELECT x1, x2,
      |  round(CAST(x1 AS DOUBLE) / x2, 4) + 0 AS rate_ratio,
      |  round((x1 - CAST(x1 + x2 AS DOUBLE) / 2.0)
      |    / sqrt(CAST(x1 + x2 AS DOUBLE) / 4.0), 4) + 0 AS z
      |FROM x""".stripMargin

  /** D140 `q_bollinger`: 7-day rolling mean ± 2σ bands over daily
    * revenue per event type, with breakout flags — the rolling-σ
    * control chart beside D74 CUSUM (fixed baseline) and I16 (global
    * σ). σ is the population form over the trailing window from
    * exact integer cent sums; band comparisons are made on
    * 4-dp-rounded values so the boundary can't fork engines.
    *
    * Scale shape: one (type, day) daily collapse; every window is
    * PARTITIONED by type over the calendar-bounded daily table.
    */
  def qBollinger(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr(cents)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily
      .withColumn("ma", sum(col("x")).over(w).cast("double")
        / count(lit(1)).over(w).cast("double"))
      .withColumn("msq", sum(col("x") * col("x")).over(w).cast("double")
        / count(lit(1)).over(w).cast("double"))
      .withColumn("sd", sqrt(greatest(col("msq") - col("ma") * col("ma"), lit(0.0))))
      .select(col("event_type"), col("day"), col("x"),
        round(col("ma"), 4).as("ma7"),
        round(col("ma") + lit(2.0) * col("sd"), 4).as("upper"),
        round(col("ma") - lit(2.0) * col("sd"), 4).as("lower"),
        (col("x").cast("double") > round(col("ma") + lit(2.0) * col("sd"), 4) ||
          col("x").cast("double") < round(col("ma") - lit(2.0) * col("sd"), 4))
          .cast("long").as("breakout"))
  }

  val qBollingerSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, day, x,
      |    CAST(sum(x) OVER w AS DOUBLE) / count(*) OVER w AS ma,
      |    CAST(sum(x * x) OVER w AS DOUBLE) / count(*) OVER w AS msq
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day, x,
      |  round(ma, 4) + 0 AS ma7,
      |  round(ma + 2.0 * sqrt(greatest(msq - ma * ma, 0.0)), 4) + 0 AS upper,
      |  round(ma - 2.0 * sqrt(greatest(msq - ma * ma, 0.0)), 4) + 0 AS lower,
      |  CAST(CASE WHEN CAST(x AS DOUBLE) > round(ma + 2.0 * sqrt(greatest(msq - ma * ma, 0.0)), 4)
      |              OR CAST(x AS DOUBLE) < round(ma - 2.0 * sqrt(greatest(msq - ma * ma, 0.0)), 4)
      |            THEN 1 ELSE 0 END AS BIGINT) AS breakout
      |FROM r""".stripMargin
}
