package graft.queries

import graft.Tables
import graft.operators.{Graph, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 extension batch 2: local clustering coefficients (the
  * per-node cohesion read beside D46's triangle counts) and the
  * log-rank test (the two-group significance companion to D69's
  * Kaplan–Meier hazard table).
  */
object Pipeline75 {

  /** D148 `q_clustering_coeff`: local clustering coefficient per
    * node — C(v) = 2·T(v) / (d(v)·(d(v)−1)) over the shared
    * co-purchase graph, emitted as an exact ×10⁶ fixed-point long
    * (integer cross-multiplication, no float division) for every
    * node of degree ≥ 2 (C undefined below that), triangle count
    * coalesced to 0 for closed-triangle-free nodes. "How clubby is
    * this node's neighborhood" — the cohesion profile that separates
    * hub-and-spoke parts from clique parts in the same degree band.
    *
    * Scale shape: edges come from the session-materialized
    * [[GraphBase.coPurchasePairs]] (built once across all graph
    * rows); triangles via the degree-oriented wedge join (never
    * all-wedges on hubs); degrees are one agg over the edge list.
    */
  def qClusteringCoeff(t: Tables): DataFrame = {
    val edges = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    val und = edges
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = Graph.triangleCounts(edges, "u", "v")
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        expr("CAST((2000000 * coalesce(tri_cnt, 0)) div (degree * (degree - 1)) AS BIGINT)")
          .as("coeff_ppm"))
  }

  val qClusteringCoeffSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ee AS (SELECT u, v FROM e WHERE w >= 2),
      |deg AS (
      |  SELECT node, count(*) AS degree FROM (
      |    SELECT u AS node FROM ee UNION ALL SELECT v FROM ee) x
      |  GROUP BY 1),
      |tri AS (
      |  SELECT ab.u AS n1, ab.v AS n2, bc.v AS n3
      |  FROM ee ab
      |  JOIN ee bc ON ab.v = bc.u
      |  JOIN ee ac ON ac.u = ab.u AND ac.v = bc.v),
      |tc AS (
      |  SELECT node, count(*) AS tri_cnt FROM (
      |    SELECT n1 AS node FROM tri
      |    UNION ALL SELECT n2 FROM tri
      |    UNION ALL SELECT n3 FROM tri) x
      |  GROUP BY 1)
      |SELECT d.node, d.degree,
      |  CAST(coalesce(tc.tri_cnt, 0) AS BIGINT) AS tri_cnt,
      |  CAST((2000000 * coalesce(tc.tri_cnt, 0)) // (d.degree * (d.degree - 1)) AS BIGINT)
      |    AS coeff_ppm
      |FROM deg d LEFT JOIN tc ON d.node = tc.node
      |WHERE d.degree >= 2""".stripMargin

  /** D149 `q_log_rank`: two-group log-rank test over the D69
    * survival staging — users split into arms by the D52 LCG
    * parity, death = last active day before the corpus horizon,
    * at-risk counts from the same delta/cumsum risk-curve idiom as
    * Kaplan–Meier (per-arm columns in ONE curve — no second pass).
    * Per death day t: E₁ₜ = dₜ·n₁ₜ/nₜ and the hypergeometric
    * variance Vₜ, each rounded to ×10⁹ fixed point so the sums are
    * EXACT integer (a raw double Σ over days would be
    * accumulation-order-dependent); χ² = (O₁−E₁)²/V from the summed
    * fixed points, 4 dp. The censoring-aware "did arm A churn
    * faster" readout.
    */
  def qLogRank(t: Tables): DataFrame = {
    val spans = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .select(col("user_id"),
        pmod(Sampling.idBucket(col("user_id"), 1000000), lit(2)).as("arm"),
        col("first_day"), col("last_day"))
      .localCheckpoint(true)
    val maxd = spans.agg(max(col("last_day")).as("max_day"))
    // per-day deltas carrying BOTH the total and the arm-1 column;
    // the zero-delta branch keeps every death day on the curve
    val deltas = spans.select(col("first_day").as("day"), lit(1L).as("dd"),
        (col("arm") === 1).cast("long").as("dd1"))
      .unionAll(spans.select(date_add(col("last_day"), 1).as("day"), lit(-1L).as("dd"),
        (-(col("arm") === 1).cast("long")).as("dd1")))
      .unionAll(spans.select(col("last_day").as("day"), lit(0L).as("dd"),
        lit(0L).as("dd1")))
      .groupBy(col("day"))
      .agg(sum(col("dd")).as("delta"), sum(col("dd1")).as("delta1"))
    val wr = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = deltas
      .withColumn("n_t", sum(col("delta")).over(wr))
      .withColumn("n1_t", sum(col("delta1")).over(wr))
    val deaths = spans
      .crossJoin(broadcast(maxd))
      .filter(col("last_day") < col("max_day"))
      .groupBy(col("last_day").as("day"))
      .agg(count(lit(1)).as("d_t"),
        sum((col("arm") === 1).cast("long")).as("d1_t"))
    val perDay = risk.join(deaths, Seq("day"))
      .filter(col("n_t") > 0)
      .select(
        col("d1_t"),
        expr("CAST(round(1e9 * d_t * n1_t / n_t) AS BIGINT)").as("e1_fp"),
        expr("""CAST(round(CASE WHEN n_t > 1
                THEN 1e9 * d_t * n1_t * (n_t - n1_t) * (n_t - d_t)
                     / (n_t * n_t * (n_t - 1.0))
                ELSE 0.0 END) AS BIGINT)""").as("v_fp"))
    perDay.agg(
        sum(col("d1_t")).as("o1"),
        sum(col("e1_fp")).as("e1_fp"),
        sum(col("v_fp")).as("v_fp"))
      .select(col("o1"),
        round(col("e1_fp").cast("double") / 1e9, 4).as("e1"),
        round(
          pow(col("o1").cast("double") - col("e1_fp").cast("double") / 1e9, 2)
            / (col("v_fp").cast("double") / 1e9), 4).as("chi2"))
  }

  val qLogRankSql: String =
    """WITH d0 AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |spans AS (
      |  SELECT user_id,
      |    ((((user_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 1000000) % 2 AS arm,
      |    min(day) AS first_day, max(day) AS last_day
      |  FROM d0 GROUP BY 1),
      |mx AS (SELECT max(last_day) AS max_day FROM spans),
      |deltas AS (
      |  SELECT day, CAST(sum(dd) AS BIGINT) AS delta,
      |    CAST(sum(dd1) AS BIGINT) AS delta1
      |  FROM (
      |    SELECT first_day AS day, 1 AS dd,
      |      CASE WHEN arm = 1 THEN 1 ELSE 0 END AS dd1 FROM spans
      |    UNION ALL
      |    SELECT last_day + 1, -1,
      |      CASE WHEN arm = 1 THEN -1 ELSE 0 END FROM spans
      |    UNION ALL
      |    SELECT last_day, 0, 0 FROM spans) u
      |  GROUP BY 1),
      |risk AS (
      |  SELECT day,
      |    sum(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS n_t,
      |    sum(delta1) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS n1_t
      |  FROM deltas),
      |deaths AS (
      |  SELECT last_day AS day, count(*) AS d_t,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1_t
      |  FROM spans CROSS JOIN mx WHERE last_day < max_day GROUP BY 1),
      |per_day AS (
      |  SELECT dh.d1_t,
      |    CAST(round(1e9 * dh.d_t * r.n1_t / r.n_t) AS BIGINT) AS e1_fp,
      |    CAST(round(CASE WHEN r.n_t > 1
      |      THEN 1e9 * dh.d_t * r.n1_t * (r.n_t - r.n1_t) * (r.n_t - dh.d_t)
      |           / (r.n_t * r.n_t * (r.n_t - 1.0))
      |      ELSE 0.0 END) AS BIGINT) AS v_fp
      |  FROM risk r JOIN deaths dh ON r.day = dh.day
      |  WHERE r.n_t > 0),
      |agg AS (
      |  SELECT CAST(sum(d1_t) AS BIGINT) AS o1,
      |    CAST(sum(e1_fp) AS BIGINT) AS e1_fp, CAST(sum(v_fp) AS BIGINT) AS v_fp
      |  FROM per_day)
      |SELECT o1,
      |  round(CAST(e1_fp AS DOUBLE) / 1e9, 4) + 0 AS e1,
      |  round(pow(CAST(o1 AS DOUBLE) - CAST(e1_fp AS DOUBLE) / 1e9, 2)
      |        / (CAST(v_fp AS DOUBLE) / 1e9), 4) + 0 AS chi2
      |FROM agg""".stripMargin
}
