package graft.queries

import graft.Tables
import graft.functions.TopKAgg
import graft.operators.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 extension batch 61: Kendall rank correlation and the
  * Theil inequality index — the remaining rank-association and
  * inequality-DECOMPOSITION statistics (D47 Gini measures but cannot
  * decompose additively; D120 Spearman is the other rank
  * correlation, quadratic-free but less robust to outlying ranks).
  */
object Pipeline58 {

  /** D122: Kendall τ-b per nation between a customer's order count
    * and total spend, on a deterministic ≤120-customer LCG panel per
    * nation. Kendall is pair-based — O(n²) per group by definition —
    * so the PANEL is the stated statistic (the E4/D97 capping
    * convention): the shared LCG mix ranks customers and the 120
    * smallest (pri, custkey) per nation form the panel, keeping pair
    * work CONSTANT per group at any corpus size while the estimator
    * keeps √120-precision. Concordant/discordant/tie counts are
    * exact integers from one panel self-join; τ-b =
    * (C−D)/(√(n0−n1)·√(n0−n2)) is one fixed-order double, 4 dp
    * (null when a side is all-ties).
    *
    * Scale shape: panel selection is a TopKAgg per nation (size-120
    * min-heaps merged map-side — never a per-nation sort of all
    * customers); the self-join is 120²/2 pairs × nations, corpus-
    * independent; metrics come from one orders-keyed agg.
    */
  def qKendallTau(t: Tables): DataFrame = {
    val m = t.orders.groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("cents"))
      .join(t.customer.select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nation")), Seq("ck"))
      .withColumn("pri", Sampling.idBucket(col("ck"), 1000000))
    // Smallest-pri panel via the bounded heap: ord = −pri (heap keeps
    // largest ord), payload = custkey, ties by ascending custkey —
    // identical to ORDER BY pri, ck.
    val panelIds = m
      .groupBy(col("nation"))
      .agg(TopKAgg(negate(col("pri").cast("double")), col("ck"), 120).as("top"))
      .select(col("nation"), explode(col("top")).as("e"))
      .select(col("nation"), col("e.payload").as("ck"))
    val panel = panelIds.join(m.select(col("ck"), col("cnt"), col("cents")), Seq("ck"))
    val pairs = panel.as("a")
      .join(panel.as("b"),
        col("a.nation") === col("b.nation") && col("a.ck") < col("b.ck"))
      .select(col("a.nation").as("nation"),
        (col("a.cnt") === col("b.cnt")).as("xt"),
        (col("a.cents") === col("b.cents")).as("yt"),
        ((col("a.cnt") - col("b.cnt")) * (col("a.cents") - col("b.cents"))).as("prod"))
    pairs.groupBy(col("nation"))
      .agg(count(lit(1)).as("n0"),
        sum(when(col("prod") > 0, 1L).otherwise(0L)).as("c"),
        sum(when(col("prod") < 0, 1L).otherwise(0L)).as("d"),
        sum(when(col("xt"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("yt"), 1L).otherwise(0L)).as("n2"))
      .select(col("nation"), col("n0"), col("c"), col("d"),
        when(col("n0") > col("n1") && col("n0") > col("n2"),
          round((col("c") - col("d")).cast("double")
            / (sqrt((col("n0") - col("n1")).cast("double"))
              * sqrt((col("n0") - col("n2")).cast("double"))), 4))
          .as("tau_b"))
      .orderBy(col("nation"))
  }

  val qKendallTauSql: String =
    """WITH m AS (
      |  SELECT o_custkey AS ck, count(*) AS cnt,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |mc AS (
      |  SELECT m.ck, m.cnt, m.cents, c.c_nationkey AS nation,
      |    (((m.ck % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 1000000 AS pri
      |  FROM m JOIN customer c ON c.c_custkey = m.ck),
      |panel AS (
      |  SELECT nation, ck, cnt, cents FROM (
      |    SELECT nation, ck, cnt, cents,
      |      row_number() OVER (PARTITION BY nation ORDER BY pri, ck) AS rn
      |    FROM mc) x
      |  WHERE rn <= 120),
      |pr AS (
      |  SELECT a.nation,
      |    a.cnt = b.cnt AS xt, a.cents = b.cents AS yt,
      |    (a.cnt - b.cnt) * (a.cents - b.cents) AS prod
      |  FROM panel a JOIN panel b
      |    ON a.nation = b.nation AND a.ck < b.ck),
      |agg AS (
      |  SELECT nation, CAST(count(*) AS BIGINT) AS n0,
      |    CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN xt THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN yt THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM pr GROUP BY 1)
      |SELECT nation, n0, c, d,
      |  CASE WHEN n0 > n1 AND n0 > n2 THEN
      |    round(CAST(c - d AS DOUBLE)
      |      / (sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE))), 4) + 0
      |  END AS tau_b
      |FROM agg ORDER BY nation""".stripMargin

  /** D123: Theil T inequality index of customer spend, decomposed by
    * nation — the property D47 Gini lacks: T = T_between +
    * Σ_g (X_g/X)·T_g EXACTLY, so "how much inequality lives between
    * nations vs within them" is one subtraction. Cross-engine
    * determinism: every per-customer term (x/x̄_g)·ln(x/x̄_g) is
    * QUANTIZED to a ×10⁶ long before summation (the C14 rule — an
    * unordered double sum would be partition-order-dependent; ln ULP
    * differences sit ~10 orders below the quantization step), the
    * ratio is computed in ONE fixed operand order
    * (x·N_g/X_g, multiply before divide), and the final T_g divides
    * the exact long sum once, 4 dp. Between-nation terms are one
    * closed-form double per nation over exact aggregates, 6 dp.
    *
    * Scale shape: one orders-keyed agg + one customer join; nation
    * aggregates (25 rows) broadcast back; the quantized-term sum is
    * map-side combined; global totals ride a 1-row broadcast
    * crossJoin (the repo's totals pattern). Nation-bounded output.
    */
  def qTheilIndex(t: Tables): DataFrame = {
    val cust = t.orders.groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("x"))
      .join(t.customer.select(col("c_custkey").as("ck"),
        col("c_nationkey").as("nation")), Seq("ck"))
    val natAgg = cust.groupBy(col("nation"))
      .agg(sum(col("x")).as("xg"), count(lit(1)).as("ng"))
    val terms = cust.join(broadcast(natAgg), Seq("nation"))
      .withColumn("ratio",
        col("x").cast("double") * col("ng").cast("double") / col("xg").cast("double"))
      .withColumn("q",
        expr("CAST(round(ratio * ln(ratio) * 1000000.0, 0) AS BIGINT)"))
      .groupBy(col("nation"))
      .agg(sum(col("q")).as("sq"), first(col("xg")).as("xg"), first(col("ng")).as("ng"))
    val tot = natAgg.agg(sum(col("xg")).as("xt"), sum(col("ng")).as("nt"))
    terms.crossJoin(broadcast(tot))
      .select(col("nation"), col("ng").as("n_c"), col("xg").as("cents"),
        round(col("sq").cast("double") / (col("ng").cast("double") * lit(1000000.0)), 4)
          .as("t_within"),
        round((col("xg").cast("double") / col("xt").cast("double"))
          * log(col("xg").cast("double") * col("nt").cast("double")
            / (col("xt").cast("double") * col("ng").cast("double"))), 6)
          .as("t_between_term"))
      .orderBy(col("nation"))
  }

  val qTheilIndexSql: String =
    """WITH cust AS (
      |  SELECT o.o_custkey AS ck, c.c_nationkey AS nation,
      |    CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |  GROUP BY 1, 2),
      |nat AS (
      |  SELECT nation, CAST(sum(x) AS BIGINT) AS xg, count(*) AS ng
      |  FROM cust GROUP BY 1),
      |tot AS (SELECT CAST(sum(xg) AS BIGINT) AS xt, CAST(sum(ng) AS BIGINT) AS nt FROM nat),
      |q AS (
      |  SELECT cust.nation,
      |    CAST(round((CAST(x AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(xg AS DOUBLE))
      |      * ln(CAST(x AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(xg AS DOUBLE))
      |      * 1000000.0, 0) AS BIGINT) AS q
      |  FROM cust JOIN nat ON nat.nation = cust.nation),
      |sq AS (SELECT nation, CAST(sum(q) AS BIGINT) AS sq FROM q GROUP BY 1)
      |SELECT n.nation, CAST(n.ng AS BIGINT) AS n_c, n.xg AS cents,
      |  round(CAST(s.sq AS DOUBLE) / (CAST(n.ng AS DOUBLE) * 1000000.0), 4) + 0
      |    AS t_within,
      |  round((CAST(n.xg AS DOUBLE) / CAST(t.xt AS DOUBLE))
      |    * ln(CAST(n.xg AS DOUBLE) * CAST(t.nt AS DOUBLE)
      |      / (CAST(t.xt AS DOUBLE) * CAST(n.ng AS DOUBLE))), 6) + 0
      |    AS t_between_term
      |FROM nat n JOIN sq s ON s.nation = n.nation CROSS JOIN tot t
      |ORDER BY n.nation""".stripMargin
}
