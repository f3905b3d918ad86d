package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 51: dollar retention and experiment
  * power — how much of a cohort's VALUE survives, and how many
  * users an A/B test needs before anyone schedules one.
  */
object Pipeline53 {

  /** D112: net dollar retention by weekly cohort — for each
    * (cohort, week offset): active users, exact revenue cents, and
    * NDR ×10⁶ = offset revenue / the same cohort's week-0 revenue.
    * D28 counts users who came back; this weighs them by wallet
    * (the retention form a revenue review reads — a cohort can
    * shrink in users yet grow in dollars). Exact integer cents end
    * to end; the week-0 denominator joins back from a
    * cohort-bounded broadcast.
    *
    * Scale shape: one corpus collapse to (user, week, cents); the
    * first-week table is a user-keyed agg joined back user-keyed;
    * the (cohort, offset) rollup is map-side combined; the week-0
    * denominator table is |cohorts| rows.
    */
  def qNdr(t: Tables): DataFrame = {
    val weekly = t.events.select(
      col("user_id"),
      expr("unix_micros(ts) div 604800000000").as("week"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("user_id"), col("week"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
      // Feeds firsts AND the cohort join — checkpoint the
      // user×weeks-bounded table so the corpus pays one collapse.
      .localCheckpoint(true)
    val firsts = weekly.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    val cells = weekly.join(firsts, Seq("user_id"))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"), sum(col("c")).as("rev_cents"))
      // Feeds the result AND its own week-0 denominator slice.
      .localCheckpoint(true)
    val base = cells.filter(col("week_offset") === 0)
      .select(col("cohort"), col("rev_cents").as("base_cents"))
    cells.join(broadcast(base), "cohort")
      .select(col("cohort"), col("week_offset"), col("n_users"), col("rev_cents"),
        expr("(1000000 * rev_cents) div base_cents").as("ndr_fx"))
  }

  val qNdrSql: String =
    """WITH weekly AS (
      |  SELECT user_id, epoch_us(ts) // 604800000000 AS week,
      |    count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |firsts AS (SELECT user_id, min(week) AS cohort FROM weekly GROUP BY 1),
      |cells AS (
      |  SELECT cohort, week - cohort AS week_offset,
      |    count(DISTINCT w.user_id) AS n_users,
      |    CAST(sum(c) AS BIGINT) AS rev_cents
      |  FROM weekly w JOIN firsts f USING (user_id)
      |  GROUP BY 1, 2),
      |base AS (
      |  SELECT cohort, rev_cents AS base_cents FROM cells WHERE week_offset = 0)
      |SELECT cohort, week_offset, n_users, rev_cents,
      |  (1000000 * rev_cents) // base_cents AS ndr_fx
      |FROM cells JOIN base USING (cohort)""".stripMargin

  /** D113: A/B test power analysis — per event type the required
    * users PER ARM to detect a 10%-of-mean shift in mean value at
    * α = 0.05 (two-sided), power 80%: n = 2σ²(z_{α/2}+z_β)²/δ²
    * with (1.96 + 0.84)² = 7.84 as the fixed ×100² integer constant
    * 78400 and δ² = mean²/100 — the planning step BEFORE D52's lift
    * test / D101's sequential monitor run (an underpowered test
    * burns weeks to an inconclusive answer). All moments exact
    * integers: mean = Σc div n, population variance = Σc² div n −
    * mean², required n by cross-multiplied floor division. Σc² is a
    * plain BIGINT sum (c ≤ ~10⁴ cents ⇒ c² ≤ 10⁸; safe to ~10¹⁰
    * events per type — past that, shard the moment agg).
    *
    * Scale shape: ONE map-side-combined moment aggregate per type;
    * everything after is |types| rows of integer arithmetic.
    */
  def qPowerAnalysis(t: Tables): DataFrame =
    t.events
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(expr("c * c")).as("s2"))
      .select(col("event_type"), col("n"),
        expr("s1 div n").as("mean_c"),
        expr("s2 div n - (s1 div n) * (s1 div n)").as("var_c2"),
        expr("""(2 * 78400 * (s2 div n - (s1 div n) * (s1 div n)))
               | div greatest(((s1 div n) * (s1 div n)) div 100, 1)""".stripMargin)
          .as("req_n_per_arm"))

  val qPowerAnalysisSql: String =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)
      |             * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
      |  FROM events GROUP BY 1)
      |SELECT event_type, n,
      |  s1 // n AS mean_c,
      |  s2 // n - (s1 // n) * (s1 // n) AS var_c2,
      |  (2 * 78400 * (s2 // n - (s1 // n) * (s1 // n)))
      |    // greatest(((s1 // n) * (s1 // n)) // 100, 1) AS req_n_per_arm
      |FROM m""".stripMargin
}
