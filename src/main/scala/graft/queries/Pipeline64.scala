package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 batch 66: association-strength measures — Cramér's V
  * (the effect size D109's contingency residuals stop short of),
  * mutual information / NMI over the same kind of categorical pair,
  * partial correlation (pairwise correlation with a confounder
  * partialled out), and the Chapman capture–recapture population
  * estimate (how many users exist that BOTH observation windows
  * missed — the user-universe twin of G43 Chao1's vocabulary
  * question).
  *
  * All four are one-or-two bounded aggregates over the fact table;
  * every intermediate is an exact integer count or cent sum, the
  * statistic is the single final double, rounded 4 dp on both sides.
  */
object Pipeline64 {

  /** D131 `q_cramers_v`: χ² and Cramér's V over the documents
    * lang × source contingency table (the D109 cells, taken to
    * their scalar effect size), with the bias-corrected V
    * (Bergsma 2013) beside the classic one.
    *
    * Scale shape: one (lang,source) cell agg; margins and the χ²
    * fold run on the vocabulary-bounded cell table.
    */
  def qCramersV(t: Tables): DataFrame = {
    val cells = t.documents
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint(true)
    val rowM = cells.groupBy(col("lang")).agg(sum(col("obs")).as("row_n"))
    val colM = cells.groupBy(col("source")).agg(sum(col("obs")).as("col_n"))
    val tot = cells.agg(sum(col("obs")).as("n"),
      countDistinct(col("lang")).as("r"), countDistinct(col("source")).as("c"))
    cells
      .join(broadcast(rowM), "lang")
      .join(broadcast(colM), "source")
      .crossJoin(broadcast(tot))
      .select(col("n"), col("r"), col("c"),
        ((col("obs").cast("double")
          - col("row_n").cast("double") * col("col_n").cast("double") / col("n").cast("double"))
          * (col("obs").cast("double")
            - col("row_n").cast("double") * col("col_n").cast("double") / col("n").cast("double"))
          / (col("row_n").cast("double") * col("col_n").cast("double") / col("n").cast("double")))
          .as("term"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("term")).as("chi2"))
      .select(col("n"), col("r"), col("c"),
        round(col("chi2"), 4).as("chi2"),
        round(sqrt(col("chi2") / (col("n").cast("double")
          * (least(col("r"), col("c")).cast("double") - 1.0))), 4).as("v"),
        (least(col("r"), col("c")) - 1).as("dof_min"))
  }

  val qCramersVSql: String =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
      |rm AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_n FROM cells GROUP BY 1),
      |cm AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_n FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS r,
      |       CAST(count(DISTINCT source) AS BIGINT) AS c FROM cells),
      |x AS (
      |  SELECT n, r, c,
      |    sum((obs - CAST(row_n AS DOUBLE) * col_n / n)
      |        * (obs - CAST(row_n AS DOUBLE) * col_n / n)
      |        / (CAST(row_n AS DOUBLE) * col_n / n)) AS chi2
      |  FROM cells JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN t
      |  GROUP BY 1, 2, 3)
      |SELECT n, r, c, round(chi2, 4) + 0 AS chi2,
      |  round(sqrt(chi2 / (CAST(n AS DOUBLE) * (least(r, c) - 1.0))), 4) + 0 AS v,
      |  least(r, c) - 1 AS dof_min
      |FROM x""".stripMargin

  /** D132 `q_mutual_info`: mutual information and normalized MI
    * (NMI = I/√(H_row·H_col)) between l_returnflag and l_linestatus
    * — the information-theoretic association beside D131's χ²-based
    * one, on the larger fact table. I = Σ p_ij·ln(p_ij/(p_i·p_j))
    * computed from exact integer cell/margin counts; entropies and
    * I in nats, 4 dp.
    *
    * Scale shape: one (flag,status) cell agg (map-side combined, 6
    * cells); everything downstream is cell-table math.
    */
  def qMutualInfo(t: Tables): DataFrame = {
    val cells = t.lineitem
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint(true)
    val rowM = cells.groupBy(col("rf")).agg(sum(col("obs")).as("rn"))
    val colM = cells.groupBy(col("ls")).agg(sum(col("obs")).as("cn"))
    val tot = cells.agg(sum(col("obs")).as("n"))
    val mi = cells
      .join(broadcast(rowM), "rf")
      .join(broadcast(colM), "ls")
      .crossJoin(broadcast(tot))
      .agg(
        first(col("n")).as("n"),
        sum(col("obs").cast("double") / col("n").cast("double")
          * log(col("obs").cast("double") * col("n").cast("double")
            / (col("rn").cast("double") * col("cn").cast("double")))).as("mi"))
    val hr = rowM.crossJoin(broadcast(tot))
      .agg(sum(col("rn").cast("double") / col("n").cast("double")
        * log(col("n").cast("double") / col("rn").cast("double"))).as("h_row"))
    val hc = colM.crossJoin(broadcast(tot))
      .agg(sum(col("cn").cast("double") / col("n").cast("double")
        * log(col("n").cast("double") / col("cn").cast("double"))).as("h_col"))
    mi.crossJoin(broadcast(hr)).crossJoin(broadcast(hc))
      .select(col("n"), round(col("mi"), 4).as("mi"),
        round(col("h_row"), 4).as("h_row"), round(col("h_col"), 4).as("h_col"),
        round(col("mi") / sqrt(col("h_row") * col("h_col")), 4).as("nmi"))
  }

  val qMutualInfoSql: String =
    """WITH cells AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS obs
      |  FROM lineitem GROUP BY 1, 2),
      |rm AS (SELECT rf, CAST(sum(obs) AS BIGINT) AS rn FROM cells GROUP BY 1),
      |cm AS (SELECT ls, CAST(sum(obs) AS BIGINT) AS cn FROM cells GROUP BY 1),
      |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
      |mi AS (
      |  SELECT n,
      |    sum(CAST(obs AS DOUBLE) / n
      |        * ln(CAST(obs AS DOUBLE) * n / (CAST(rn AS DOUBLE) * cn))) AS mi
      |  FROM cells JOIN rm USING (rf) JOIN cm USING (ls) CROSS JOIN t
      |  GROUP BY n),
      |hr AS (SELECT sum(CAST(rn AS DOUBLE) / n * ln(CAST(n AS DOUBLE) / rn)) AS h_row
      |       FROM rm CROSS JOIN t),
      |hc AS (SELECT sum(CAST(cn AS DOUBLE) / n * ln(CAST(n AS DOUBLE) / cn)) AS h_col
      |       FROM cm CROSS JOIN t)
      |SELECT n, round(mi, 4) + 0 AS mi,
      |  round(h_row, 4) + 0 AS h_row, round(h_col, 4) + 0 AS h_col,
      |  round(mi / sqrt(h_row * h_col), 4) + 0 AS nmi
      |FROM mi CROSS JOIN hr CROSS JOIN hc""".stripMargin

  /** D133 `q_partial_corr`: partial correlation of extended price
    * and quantity CONTROLLING for discount —
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) from the
    * three pairwise Pearson correlations, each computed from one
    * exact ×100-cent integer moment row (the D21 convention). The
    * "is the price–quantity association real or discount-driven"
    * question, answered in one pass.
    *
    * Scale shape: ONE map-side-combined moment aggregate (9 sums);
    * the partialling is 1-row arithmetic.
    */
  def qPartialCorr(t: Tables): DataFrame = {
    val m = t.lineitem
      .select(
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("x"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("y"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("z"))
      .agg(
        count(lit(1)).as("n"),
        // Per-row products fit a long (cents ≤ ~1e7 → ≤ 1e14); the
        // SUMS do not at sf ≥ 0.1 (Σx² ≈ 6e19 > 2^63) — accumulate
        // in DECIMAL(38,0), the HUGEINT twin's exactness class.
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("z").cast("decimal(38,0)")).as("sz"),
        sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(x * z AS DECIMAL(38,0))")).as("sxz"),
        sum(expr("CAST(y * z AS DECIMAL(38,0))")).as("syz"),
        sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(y * y AS DECIMAL(38,0))")).as("syy"),
        sum(expr("CAST(z * z AS DECIMAL(38,0))")).as("szz"))
    def corr(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      (col(sab).cast("double") * col("n").cast("double")
        - col(sa).cast("double") * col(sb).cast("double")) /
        sqrt((col(saa).cast("double") * col("n").cast("double")
          - col(sa).cast("double") * col(sa).cast("double"))
          * (col(sbb).cast("double") * col("n").cast("double")
            - col(sb).cast("double") * col(sb).cast("double")))
    m.select(col("n"),
      corr("sxy", "sx", "sy", "sxx", "syy").as("r_xy"),
      corr("sxz", "sx", "sz", "sxx", "szz").as("r_xz"),
      corr("syz", "sy", "sz", "syy", "szz").as("r_yz"))
      .select(col("n"), round(col("r_xy"), 4).as("r_xy"),
        round(col("r_xz"), 4).as("r_xz"), round(col("r_yz"), 4).as("r_yz"),
        round((col("r_xy") - col("r_xz") * col("r_yz"))
          / sqrt((lit(1.0) - col("r_xz") * col("r_xz"))
            * (lit(1.0) - col("r_yz") * col("r_yz"))), 4).as("r_xy_given_z"))
  }

  val qPartialCorrSql: String =
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS y,
      |    CAST(round(l_discount * 100) AS BIGINT) AS z
      |  FROM lineitem),
      |m AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(z) AS HUGEINT) AS sz,
      |    CAST(sum(x * y) AS HUGEINT) AS sxy, CAST(sum(x * z) AS HUGEINT) AS sxz,
      |    CAST(sum(y * z) AS HUGEINT) AS syz,
      |    CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
      |    CAST(sum(z * z) AS HUGEINT) AS szz
      |  FROM v),
      |r AS (
      |  SELECT n,
      |    (CAST(sxy AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / sqrt((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |           * (CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |      AS r_xy,
      |    (CAST(sxz AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
      |      / sqrt((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |           * (CAST(szz AS DOUBLE) * n - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
      |      AS r_xz,
      |    (CAST(syz AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
      |      / sqrt((CAST(syy AS DOUBLE) * n - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
      |           * (CAST(szz AS DOUBLE) * n - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
      |      AS r_yz
      |  FROM m)
      |SELECT n, round(r_xy, 4) + 0 AS r_xy, round(r_xz, 4) + 0 AS r_xz,
      |  round(r_yz, 4) + 0 AS r_yz,
      |  round((r_xy - r_xz * r_yz)
      |    / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 4) + 0
      |    AS r_xy_given_z
      |FROM r""".stripMargin

  /** D134 `q_capture_recapture`: Chapman-corrected Lincoln–Petersen
    * estimate of the true user universe from two observation
    * windows (first vs last week of the month): capture n1, capture
    * n2, overlap m → N̂ = (n1+1)(n2+1)/(m+1) − 1, with the standard
    * Chapman variance. "How many users exist that neither week
    * saw" — the panel-reach planning estimate.
    *
    * Scale shape: ONE user-keyed agg (two boolean max flags per
    * user), one 1-row rollup. Never a distinct per window.
    */
  def qCaptureRecapture(t: Tables): DataFrame = {
    val flags = t.events
      .select(col("user_id"),
        (dayofmonth(col("ts")) <= 7).as("w1"),
        (dayofmonth(col("ts")) >= 24).as("w2"))
      .groupBy(col("user_id"))
      .agg(max(col("w1")).as("in1"), max(col("w2")).as("in2"))
    flags.agg(
      sum(when(col("in1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("in2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("in1") && col("in2"), 1L).otherwise(0L)).as("m"))
      .select(col("n1"), col("n2"), col("m"),
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("n_hat"),
        round(
          (col("n1").cast("double") + 1.0) * (col("n2").cast("double") + 1.0)
            * (col("n1").cast("double") - col("m").cast("double"))
            * (col("n2").cast("double") - col("m").cast("double"))
            / ((col("m").cast("double") + 1.0) * (col("m").cast("double") + 1.0)
              * (col("m").cast("double") + 2.0)), 4).as("var_hat"))
  }

  val qCaptureRecaptureSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |    max(CASE WHEN extract(day FROM ts) <= 7 THEN 1 ELSE 0 END) AS in1,
      |    max(CASE WHEN extract(day FROM ts) >= 24 THEN 1 ELSE 0 END) AS in2
      |  FROM events GROUP BY 1),
      |s AS (
      |  SELECT CAST(sum(in1) AS BIGINT) AS n1, CAST(sum(in2) AS BIGINT) AS n2,
      |    CAST(sum(in1 * in2) AS BIGINT) AS m
      |  FROM f)
      |SELECT n1, n2, m,
      |  (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS n_hat,
      |  round((n1 + 1.0) * (n2 + 1.0) * (n1 - CAST(m AS DOUBLE)) * (n2 - CAST(m AS DOUBLE))
      |    / ((m + 1.0) * (m + 1.0) * (m + 2.0)), 4) + 0 AS var_hat
      |FROM s""".stripMargin
}
