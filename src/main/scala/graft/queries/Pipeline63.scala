package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 batch 65: the nonparametric k-sample / paired-sample
  * rank-test family — Kruskal–Wallis (k independent groups, the
  * rank ANOVA beside D87's parametric one), Wilcoxon signed-rank
  * (paired halves per user, the paired twin of D67 Mann–Whitney),
  * Friedman (within-block ranks across treatments), and the
  * Benjamini–Hochberg FDR step-up that turns a family of per-group
  * p-values into decisions (the multiple-comparisons gate every
  * per-slice experiment sweep needs at scale).
  *
  * Shared conventions: values quantized to exact ×100 cent longs
  * before any ranking (the D67 convention); average ranks carried as
  * 2×-scaled integers (min+max of unique positions, or 2·rank+t−1)
  * so every rank sum is exact until the one final double division,
  * rounded 4 dp on both sides.
  */
object Pipeline63 {

  private val cents = "CAST(round(value * 100) AS BIGINT)"

  /** D127 `q_kruskal_wallis`: one-way rank ANOVA of event value
    * across event types, with tie correction. Ranks come from the
    * per-CENT compacted value table (the D67 Mann–Whitney shape —
    * value-range-bounded, ≤ ~56k distinct cents at ANY corpus
    * scale): cum-below + (t+1)/2 is the average rank of a tie
    * group, carried as the exact integer 2·r̄ = 2·below + t + 1.
    * H = 12/(N(N+1))·Σ R_j²/n_j − 3(N+1); H_c = H / (1 −
    * Σ(t³−t)/(N³−N)).
    *
    * Scale shape: one (cent,type) map-side-combined agg, one cent
    * rollup, the allowlisted bounded window over the cent table,
    * a cent-keyed join back, one type rollup; the 1-row totals
    * broadcast into the k-row result.
    */
  def qKruskalWallis(t: Tables): DataFrame = {
    val ct = t.events
      .select(col("event_type"), expr(cents).as("c"))
      .groupBy(col("c"), col("event_type"))
      .agg(count(lit(1)).as("n_ct"))
      .localCheckpoint(true)
    val byC = ct.groupBy(col("c")).agg(sum(col("n_ct")).as("tc"))
    val ranked = byC
      .withColumn("below",
        coalesce(sum(col("tc")).over(
          Window.orderBy(col("c")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("c"), col("tc"), (lit(2L) * col("below") + col("tc") + lit(1L)).as("r2"))
      .localCheckpoint(true) // value-range-bounded rank table, read twice
    val perType = ct.join(ranked, "c")
      .groupBy(col("event_type"))
      .agg(sum(col("n_ct")).as("n_j"), sum(col("n_ct") * col("r2")).as("r2_sum"))
      .localCheckpoint(true) // k rows, feeds both the H fold and the result
    val totals = ranked.agg(
      sum(col("tc")).as("n"),
      sum(col("tc") * col("tc") * col("tc") - col("tc")).as("tie3"))
    val h = perType.crossJoin(broadcast(totals))
      .agg(
        first(col("n")).as("n"),
        count(lit(1)).as("k"),
        // Σ R_j²/n_j with R_j = r2_sum/2 → Σ r2_sum²/(4 n_j)
        sum(col("r2_sum").cast("double") * col("r2_sum").cast("double")
          / (lit(4.0) * col("n_j").cast("double"))).as("rsq"),
        first(col("tie3")).as("tie3"))
      .select(col("n"), col("k"),
        (lit(12.0) / (col("n").cast("double") * (col("n").cast("double") + 1.0))
          * col("rsq") - lit(3.0) * (col("n").cast("double") + 1.0)).as("h_raw"),
        (lit(1.0) - col("tie3").cast("double")
          / (col("n").cast("double") * col("n").cast("double") * col("n").cast("double")
            - col("n").cast("double"))).as("corr"))
      .select(col("n"), col("k"), round(col("h_raw"), 4).as("h"),
        round(col("h_raw") / col("corr"), 4).as("h_c"))
    perType.select(col("event_type"), col("n_j"), col("r2_sum"))
      .crossJoin(broadcast(h))
  }

  val qKruskalWallisSql: String =
    """WITH ct AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS c, event_type,
      |    count(*) AS n_ct
      |  FROM events GROUP BY 1, 2),
      |byc AS (SELECT c, CAST(sum(n_ct) AS BIGINT) AS tc FROM ct GROUP BY 1),
      |rk AS (
      |  SELECT c, tc,
      |    2 * COALESCE(sum(tc) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + tc + 1 AS r2
      |  FROM byc),
      |pt AS (
      |  SELECT event_type, CAST(sum(n_ct) AS BIGINT) AS n_j,
      |    CAST(sum(n_ct * r2) AS BIGINT) AS r2_sum
      |  FROM ct JOIN rk USING (c) GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(tc) AS BIGINT) AS n,
      |    CAST(sum(tc * tc * tc - tc) AS BIGINT) AS tie3
      |  FROM rk),
      |hh AS (
      |  SELECT n, CAST(count(*) AS BIGINT) AS k,
      |    12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
      |      * sum(CAST(r2_sum AS DOUBLE) * CAST(r2_sum AS DOUBLE)
      |            / (4.0 * CAST(n_j AS DOUBLE)))
      |      - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_raw,
      |    1.0 - CAST(tie3 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |         - CAST(n AS DOUBLE)) AS corr
      |  FROM pt CROSS JOIN tot GROUP BY n, tie3)
      |SELECT event_type, n_j, r2_sum, n, k,
      |  round(h_raw, 4) + 0 AS h, round(h_raw / corr, 4) + 0 AS h_c
      |FROM pt CROSS JOIN hh""".stripMargin

  /** D128 `q_wilcoxon_signed_rank`: paired-sample test of per-user
    * spend in the first half of the month vs the second (users
    * present in both halves; zero differences dropped, the standard
    * Pratt-less treatment). |d| ranks are exact positions from
    * [[GlobalRank.rankExact]] (range-partitioned sort — never a
    * global window over the user-sized pair table); a tie group's
    * 2×average-rank is min(pos)+max(pos), an exact integer. z uses
    * the normal approximation with the tie-corrected variance
    * n(n+1)(2n+1)/24 − Σ(t³−t)/48.
    *
    * Scale shape: one user-keyed agg (the pair build), rankExact's
    * range sort + numPartitions-long offset zip, one |d|-keyed agg,
    * one 1-row rollup. Nothing user-sized ever funnels to a task.
    */
  def qWilcoxonSignedRank(t: Tables): DataFrame = {
    val pairs = t.events
      .select(col("user_id"), expr(cents).as("c"),
        (dayofmonth(col("ts")) <= 15).as("h1"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("h1"), col("c")).otherwise(0L)).as("s1"),
        sum(when(!col("h1"), col("c")).otherwise(0L)).as("s2"),
        sum(when(col("h1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("h1"), 1L).otherwise(0L)).as("n2"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .select(col("user_id"), (col("s1") - col("s2")).as("d"))
      .filter(col("d") =!= 0L)
      .select(col("user_id"), col("d"), abs(col("d")).as("ad"))
    val ranked = GlobalRank.rankExact(pairs, Seq(col("ad"), col("user_id")), "pos")
    val groups = ranked.groupBy(col("ad"))
      .agg(
        (min(col("pos")) + max(col("pos"))).as("r2"),
        count(lit(1)).as("tg"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("npos"))
    groups.agg(
      sum(col("tg")).as("n"),
      sum(col("npos") * col("r2")).as("w2_plus"),
      sum(col("tg") * col("tg") * col("tg") - col("tg")).as("tie3"))
      .select(col("n"), col("w2_plus"),
        round(
          (col("w2_plus").cast("double") / 2.0
            - col("n").cast("double") * (col("n").cast("double") + 1.0) / 4.0)
            / sqrt(col("n").cast("double") * (col("n").cast("double") + 1.0)
              * (col("n").cast("double") * 2.0 + 1.0) / 24.0
              - col("tie3").cast("double") / 48.0), 4).as("z"))
  }

  val qWilcoxonSignedRankSql: String =
    """WITH pairs AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN extract(day FROM ts) <= 15
      |                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
      |      - sum(CASE WHEN extract(day FROM ts) > 15
      |                  THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM events GROUP BY 1
      |  HAVING sum(CASE WHEN extract(day FROM ts) <= 15 THEN 1 ELSE 0 END) > 0
      |     AND sum(CASE WHEN extract(day FROM ts) > 15 THEN 1 ELSE 0 END) > 0),
      |nz AS (
      |  SELECT user_id, d, abs(d) AS ad,
      |    row_number() OVER (ORDER BY abs(d), user_id) AS pos
      |  FROM pairs WHERE d <> 0),
      |grp AS (
      |  SELECT ad, min(pos) + max(pos) AS r2, count(*) AS tg,
      |    sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS npos
      |  FROM nz GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(tg) AS BIGINT) AS n,
      |    CAST(sum(npos * r2) AS BIGINT) AS w2_plus,
      |    CAST(sum(tg * tg * tg - tg) AS BIGINT) AS tie3
      |  FROM grp)
      |SELECT n, w2_plus,
      |  round((CAST(w2_plus AS DOUBLE) / 2.0
      |         - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)
      |    / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)
      |           * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
      |           - CAST(tie3 AS DOUBLE) / 48.0), 4) + 0 AS z
      |FROM tot""".stripMargin

  /** D129 `q_friedman`: within-block rank test — blocks are days,
    * treatments are event types, the cell statistic is the exact
    * truncated mean cent value (sum·10⁴ div count). Only COMPLETE
    * blocks (days where every type occurs) enter, so the rank frame
    * is rectangular as the test requires. Within-day average ranks
    * with ties carried as ρ = 2·rank + t − 1 (exact); the
    * tie-general statistic Q = (k−1)·Σ_j(R2_j − n(k+1))² /
    * (Σρ² − nk(k+1)²) is integer until the final division.
    *
    * Scale shape: one (day,type) cell agg; every window is
    * PARTITIONED by day (k-bounded rows per partition); the rank
    * frame is calendar×k-bounded.
    */
  def qFriedman(t: Tables): DataFrame = {
    val cells = t.events
      .select(to_date(col("ts")).as("day"), col("event_type"), expr(cents).as("c"))
      .groupBy(col("day"), col("event_type"))
      .agg(expr("(sum(c) * 10000) div count(*)").as("v"))
      .localCheckpoint(true)
    val k = cells.select(col("event_type")).distinct().count()
    val full = cells
      .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("day"))))
      .filter(col("nt") === k)
    val ranked = full
      .withColumn("rk", rank().over(Window.partitionBy(col("day")).orderBy(col("v"))))
      .withColumn("tt", count(lit(1)).over(Window.partitionBy(col("day"), col("v"))))
      .select(col("day"), col("event_type"),
        (lit(2L) * col("rk") + col("tt") - lit(1L)).as("rho"))
      .localCheckpoint(true) // calendar×k-bounded rank frame, read twice
    val perType = ranked.groupBy(col("event_type"))
      .agg(sum(col("rho")).as("r2_sum"), count(lit(1)).as("n"))
      .localCheckpoint(true) // k rows, feeds both the Q fold and the result
    val denom = ranked.agg(sum(col("rho") * col("rho")).as("rho2"))
    val kk = k
    val stats = perType.crossJoin(broadcast(denom))
      .agg(
        first(col("n")).as("n"),
        sum((col("r2_sum") - col("n") * lit(kk + 1))
          * (col("r2_sum") - col("n") * lit(kk + 1))).as("sdev"),
        first(col("rho2")).as("rho2"))
      .select(col("n"), lit(kk).as("k"),
        round(lit((kk - 1).toDouble) * col("sdev").cast("double")
          / (col("rho2").cast("double")
            - col("n").cast("double") * lit(kk.toDouble) * lit(((kk + 1) * (kk + 1)).toDouble)),
          4).as("q_stat"))
    perType.select(col("event_type"), col("r2_sum"))
      .crossJoin(broadcast(stats))
  }

  val qFriedmanSql: String =
    """WITH cells AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type,
      |    (sum(CAST(round(value * 100) AS BIGINT)) * 10000) // count(*) AS v
      |  FROM events GROUP BY 1, 2),
      |kk AS (SELECT count(DISTINCT event_type) AS k FROM cells),
      |full_days AS (
      |  SELECT day FROM cells GROUP BY 1
      |  HAVING count(*) = (SELECT k FROM kk)),
      |rk AS (
      |  SELECT c.day, c.event_type,
      |    2 * rank() OVER (PARTITION BY c.day ORDER BY c.v)
      |      + count(*) OVER (PARTITION BY c.day, c.v) - 1 AS rho
      |  FROM cells c JOIN full_days USING (day)),
      |pt AS (
      |  SELECT event_type, CAST(sum(rho) AS BIGINT) AS r2_sum,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM rk GROUP BY 1),
      |dn AS (SELECT CAST(sum(rho * rho) AS BIGINT) AS rho2 FROM rk),
      |st AS (
      |  SELECT n,
      |    (SELECT k FROM kk) AS k,
      |    round(((SELECT k FROM kk) - 1.0)
      |      * sum(CAST((r2_sum - n * ((SELECT k FROM kk) + 1))
      |            * (r2_sum - n * ((SELECT k FROM kk) + 1)) AS DOUBLE))
      |      / (CAST(rho2 AS DOUBLE)
      |         - CAST(n AS DOUBLE) * (SELECT k FROM kk)
      |           * ((SELECT k FROM kk) + 1.0) * ((SELECT k FROM kk) + 1.0)),
      |      4) + 0 AS q_stat
      |  FROM pt CROSS JOIN dn GROUP BY n, rho2)
      |SELECT event_type, r2_sum, st.n AS n, k, q_stat
      |FROM pt CROSS JOIN st""".stripMargin

  /** D130 `q_bh_fdr`: Benjamini–Hochberg step-up over the family of
    * per-type one-sample z-tests (each type's mean cent value vs the
    * global mean; se from the type's own variance). Φ via the
    * Abramowitz–Stegun 7.1.26 polynomial — closed-form, identical
    * arithmetic on both engines, |ε| < 7.5e-8 ≪ the 6-dp rounding.
    * A type is rejected iff its p-rank ≤ the largest i with
    * p_(i) ≤ i·α/m (α = 0.05) — the step-up, not the naive
    * per-row threshold.
    *
    * Scale shape: one map-side-combined moment agg over events; the
    * whole BH procedure runs on the k-row family (k = |types|).
    */
  def qBhFdr(t: Tables): DataFrame = {
    val m = t.events
      .select(col("event_type"), expr(cents).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum(expr("c * c")).as("s2"))
      .localCheckpoint(true)
    val g = m.agg(sum(col("s1")).as("gs"), sum(col("n")).as("gn"))
    val z = m.crossJoin(broadcast(g))
      .select(col("event_type"), col("n"),
        abs((col("s1").cast("double") / col("n").cast("double")
          - col("gs").cast("double") / col("gn").cast("double"))
          / sqrt((col("s2").cast("double") / col("n").cast("double")
            - (col("s1").cast("double") / col("n").cast("double"))
              * (col("s1").cast("double") / col("n").cast("double")))
            / col("n").cast("double"))).as("az"))
    // A&S 7.1.26: 1-Φ(z) = φ(z)(a1 t+…+a5 t⁵), t = 1/(1+0.2316419 z)
    val phi = z.withColumn("t", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("az")))
      .withColumn("pdf",
        exp(col("az") * col("az") * lit(-0.5)) / lit(math.sqrt(2.0 * math.Pi)))
      .withColumn("tail", col("pdf") * (lit(0.319381530) * col("t")
        + lit(-0.356563782) * pow(col("t"), 2)
        + lit(1.781477937) * pow(col("t"), 3)
        + lit(-1.821255978) * pow(col("t"), 4)
        + lit(1.330274429) * pow(col("t"), 5)))
      .select(col("event_type"), col("n"), round(lit(2.0) * col("tail"), 6).as("p"))
    val mCount = phi.count()
    val ranked = phi
      .withColumn("pr", row_number().over(Window.orderBy(col("p"), col("event_type"))))
      .withColumn("ok", when(col("p") <= col("pr").cast("double") * lit(0.05 / mCount.toDouble), col("pr")))
      .localCheckpoint(true) // k rows; feeds both the cut agg and the result
    val cut = ranked.agg(coalesce(max(col("ok")), lit(0L)).as("cut"))
    ranked.crossJoin(broadcast(cut))
      .select(col("event_type"), col("n"), col("p"), col("pr").cast("long").as("p_rank"),
        (col("pr") <= col("cut")).cast("long").as("rejected"))
  }

  val qBhFdrSql: String =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)
      |             * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
      |  FROM events GROUP BY 1),
      |g AS (SELECT CAST(sum(s1) AS BIGINT) AS gs, CAST(sum(n) AS BIGINT) AS gn FROM m),
      |z AS (
      |  SELECT event_type, n,
      |    abs((CAST(s1 AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn)
      |      / sqrt((CAST(s2 AS DOUBLE) / n
      |              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / n))
      |      AS az
      |  FROM m CROSS JOIN g),
      |p AS (
      |  SELECT event_type, n,
      |    round(2.0 * exp(az * az * -0.5) / sqrt(2.0 * pi())
      |      * (0.319381530 * (1.0 / (1.0 + 0.2316419 * az))
      |         - 0.356563782 * pow(1.0 / (1.0 + 0.2316419 * az), 2)
      |         + 1.781477937 * pow(1.0 / (1.0 + 0.2316419 * az), 3)
      |         - 1.821255978 * pow(1.0 / (1.0 + 0.2316419 * az), 4)
      |         + 1.330274429 * pow(1.0 / (1.0 + 0.2316419 * az), 5)), 6) + 0 AS p
      |  FROM z),
      |mm AS (SELECT count(*) AS m FROM p),
      |rk AS (
      |  SELECT event_type, n, p,
      |    row_number() OVER (ORDER BY p, event_type) AS pr
      |  FROM p),
      |cut AS (
      |  SELECT COALESCE(max(CASE WHEN p <= pr * (0.05 / (SELECT m FROM mm))
      |                            THEN pr END), 0) AS cut
      |  FROM rk)
      |SELECT event_type, n, p, CAST(pr AS BIGINT) AS p_rank,
      |  CAST(CASE WHEN pr <= cut THEN 1 ELSE 0 END AS BIGINT) AS rejected
      |FROM rk CROSS JOIN cut""".stripMargin
}
