package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 extension batch 5: outlier/influence/changepoint
  * diagnostics over the daily series — Grubbs' max-deviation test,
  * the cross-correlation function between two series, and binary-
  * segmentation changepoint detection. All driven by exact integer
  * (cum)sums with fixed-order double arithmetic only at the final
  * scalar step (the D145/D150 convention).
  */
object Pipeline77 {

  /** D152 `q_grubbs`: Grubbs' outlier statistic per event_type over
    * daily revenue cents — G = max|y−ȳ|/s, with the argmax day. The
    * max deviation is located on EXACT integers (|n·y − Σy| — no
    * float compare decides a rank), the statistic is one fixed-order
    * double from exact sums, and the day tie-breaks ascending. "Is
    * the worst day a statistical outlier, and which day is it."
    */
  def qGrubbs(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val sums = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("s1"),
        sum(col("y").cast("decimal(19,0)") * col("y")).as("s2"))
    val dev = daily.join(broadcast(sums), "event_type")
      .select(col("event_type"), col("day"), col("n"), col("s1"), col("s2"),
        abs(col("n").cast("decimal(19,0)") * col("y") - col("s1")).as("ndev"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ndev").desc, col("day").asc)
    dev.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("n"), col("day").as("worst_day"),
        round(
          (col("ndev").cast("double") / col("n").cast("double"))
            / sqrt(
              (col("n").cast("double") * col("s2").cast("double")
                - col("s1").cast("double") * col("s1").cast("double"))
                / (col("n").cast("double") * (col("n").cast("double") - 1.0))),
          4).as("g_stat"))
  }

  val qGrubbsSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |sums AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(y) AS BIGINT) AS s1, sum(CAST(y AS HUGEINT) * y) AS s2
      |  FROM daily GROUP BY 1),
      |dev AS (
      |  SELECT d.event_type, d.day, s.n, s.s1, s.s2,
      |    abs(CAST(s.n AS HUGEINT) * d.y - s.s1) AS ndev,
      |    row_number() OVER (PARTITION BY d.event_type
      |      ORDER BY abs(CAST(s.n AS HUGEINT) * d.y - s.s1) DESC, d.day ASC) AS rk
      |  FROM daily d JOIN sums s ON d.event_type = s.event_type)
      |SELECT event_type, n, day AS worst_day,
      |  round((CAST(ndev AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
      |            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 4) + 0
      |    AS g_stat
      |FROM dev WHERE rk = 1""".stripMargin

  /** D153 `q_ccf`: cross-correlation function between the click and
    * view daily count series at lags −3..+3 — "does one metric LEAD
    * the other", the lag-structure read D144's cointegration and
    * D71's contemporaneous correlation both skip. One day-aligned
    * join, lead/lag columns from one calendar-bounded window pass,
    * seven correlations in one aggregate, unpivoted to (lag, ccf)
    * rows.
    */
  def qCcf(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val a = daily.filter(col("event_type") === "click")
      .select(col("day"), col("cnt").as("x"))
    val b = daily.filter(col("event_type") === "view")
      .select(col("day"), col("cnt").as("v"))
    val joined = a.join(b, Seq("day"))
    val w = Window.orderBy(col("day"))
    val shifted = (-3 to 3).foldLeft(joined) { (df, k) =>
      val c = if (k < 0) lag(col("v"), -k).over(w) else lead(col("v"), k).over(w)
      df.withColumn(s"v_$k".replace("-", "m"), c)
    }
    val aggCols = (-3 to 3).map { k =>
      corr(col("x"), col(s"v_$k".replace("-", "m"))).as(s"r_$k".replace("-", "m"))
    }
    val cors = shifted.agg(aggCols.head, aggCols.tail: _*)
    val pairs = (-3 to 3).map { k =>
      struct(lit(k.toLong).as("lag"),
        round(col(s"r_$k".replace("-", "m")), 4).as("ccf"))
    }
    cors.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.lag").as("lag"), col("p.ccf").as("ccf"))
  }

  val qCcfSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS DOUBLE) AS cnt
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT a.day, a.cnt AS x, b.cnt AS v
      |  FROM daily a JOIN daily b ON a.day = b.day
      |  WHERE a.event_type = 'click' AND b.event_type = 'view'),
      |s AS (
      |  SELECT x,
      |    lag(v, 3) OVER w AS v_m3, lag(v, 2) OVER w AS v_m2, lag(v, 1) OVER w AS v_m1,
      |    v AS v_0,
      |    lead(v, 1) OVER w AS v_1, lead(v, 2) OVER w AS v_2, lead(v, 3) OVER w AS v_3
      |  FROM j WINDOW w AS (ORDER BY day))
      |SELECT lag, ccf FROM (
      |  SELECT CAST(-3 AS BIGINT) AS lag, round(corr(x, v_m3), 4) + 0 AS ccf FROM s
      |  UNION ALL SELECT -2, round(corr(x, v_m2), 4) + 0 FROM s
      |  UNION ALL SELECT -1, round(corr(x, v_m1), 4) + 0 FROM s
      |  UNION ALL SELECT 0, round(corr(x, v_0), 4) + 0 FROM s
      |  UNION ALL SELECT 1, round(corr(x, v_1), 4) + 0 FROM s
      |  UNION ALL SELECT 2, round(corr(x, v_2), 4) + 0 FROM s
      |  UNION ALL SELECT 3, round(corr(x, v_3), 4) + 0 FROM s)""".stripMargin

  /** D154 `q_changepoint`: single-changepoint detection (the binary-
    * segmentation step) on each event_type's daily revenue series —
    * split position s minimizing SSE_left + SSE_right, found in
    * closed form from exact integer cumulative sums:
    * SSE = Σy² − (Σy)²/n per side, so
    * gain(s) = C1(s)²/s + (S1−C1(s))²/(n−s) − S1²/n
    * needs only C1 (cumsum) per candidate and exact totals. Both
    * engines build the gain from IDENTICAL exact integers with the
    * same double ops, so the raw-double argmax agrees bit-for-bit;
    * ties break by earliest day. The emitted gain is scaled to 1e12
    * before its 4-dp round (cents² gains reach ~1e19 — past the
    * ulp-safe rounding range, the q_newey_west lesson). Emits the
    * split day, the two segment means and the gain — "did this
    * metric step, and when".
    */
  def qChangepoint(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = daily
      .withColumn("s", row_number().over(wd).cast("long"))
      .withColumn("c1", sum(col("y")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // totals from sum(y), not max(c1): correct even if a daily value
    // were negative (cumsum max != total then)
    val tot = cum.groupBy(col("event_type"))
      .agg(max(col("s")).as("n"), sum(col("y")).as("s1t"))
    val gains = cum.join(broadcast(tot), "event_type")
      .filter(col("s") < col("n"))
      .select(col("event_type"), col("day"), col("s"), col("n"),
        col("c1"), col("s1t"),
        (col("c1").cast("double") * col("c1").cast("double") / col("s").cast("double")
          + (col("s1t") - col("c1")).cast("double") * (col("s1t") - col("c1")).cast("double")
            / (col("n") - col("s")).cast("double")
          - col("s1t").cast("double") * col("s1t").cast("double") / col("n").cast("double"))
          .as("gain"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("gain").desc, col("day").asc)
    gains.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("split_day"), col("n"),
        round(col("c1").cast("double") / col("s").cast("double"), 4).as("mean_before"),
        round((col("s1t") - col("c1")).cast("double")
          / (col("n") - col("s")).cast("double"), 4).as("mean_after"),
        // cents^2 gains reach ~1e19: emit at 1e12 scale so the 4-dp
        // round has double headroom (the q_newey_west rescale lesson)
        round(col("gain") / lit(1e12), 4).as("gain_e12"))
  }

  val qChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, day, y,
      |    CAST(row_number() OVER w AS BIGINT) AS s,
      |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |tot AS (
      |  SELECT event_type, CAST(max(s) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s1t
      |  FROM cum GROUP BY 1),
      |gains AS (
      |  SELECT c.event_type, c.day, c.s, t.n, c.c1, t.s1t,
      |    CAST(c.c1 AS DOUBLE) * CAST(c.c1 AS DOUBLE) / CAST(c.s AS DOUBLE)
      |      + CAST(t.s1t - c.c1 AS DOUBLE) * CAST(t.s1t - c.c1 AS DOUBLE)
      |        / CAST(t.n - c.s AS DOUBLE)
      |      - CAST(t.s1t AS DOUBLE) * CAST(t.s1t AS DOUBLE) / CAST(t.n AS DOUBLE)
      |      AS gain
      |  FROM cum c JOIN tot t ON c.event_type = t.event_type
      |  WHERE c.s < t.n),
      |ranked AS (
      |  SELECT event_type, day, n, s, c1, s1t, gain,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY gain DESC, day ASC) AS rk
      |  FROM gains)
      |SELECT event_type, day AS split_day, n,
      |  round(CAST(c1 AS DOUBLE) / CAST(s AS DOUBLE), 4) + 0 AS mean_before,
      |  round(CAST(s1t - c1 AS DOUBLE) / CAST(n - s AS DOUBLE), 4) + 0 AS mean_after,
      |  round(gain / 1e12, 4) + 0 AS gain_e12
      |FROM ranked WHERE rk = 1""".stripMargin
}
