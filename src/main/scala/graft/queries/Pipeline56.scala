package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 extension batch 59: three graph statistics the D-layer
  * still lacked over the shared co-purchase graph — Resource-
  * Allocation link prediction (the weighted companion to D97's
  * common-neighbors), degree assortativity (is the graph
  * hub-attracts-hub or hub-attracts-leaf?), and attribute
  * modularity (does the brand partition explain the edge
  * structure?). All three read GraphBase.coPurchasePairs
  * session-shared; all integer math until a single final double.
  */
object Pipeline56 {

  private def undirected(t: Tables): DataFrame = {
    val ef = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    ef.unionAll(ef.select(col("v").as("u"), col("u").as("v")))
  }

  /** D116: Resource-Allocation link prediction (Zhou–Lü–Zhang) —
    * top-20 NON-adjacent part pairs by RA(u,v) = Σ_{w∈N(u)∩N(v)}
    * 1/deg(w): where D97's common-neighbor count weights every
    * shared neighbor equally, RA discounts promiscuous centers, the
    * published stronger index on co-occurrence graphs. Exact ×10⁶
    * integers: each wedge contributes `1000000 div deg_w` (identical
    * truncation in both engines) and the per-pair sum of longs is
    * order-independent — no float path at all.
    *
    * Scale shape: wedges generate only through non-hub centers
    * (degree ≤ 50, the D97/E4/E16 frequency-cap convention — a hub
    * center costs deg² wedges and contributes ≤ 1/51 each, the
    * noise tail by construction; the cap is part of the operator's
    * stated semantics and the oracle applies it identically);
    * candidates anti-join the edge set; TakeOrdered top-20, never a
    * global window.
    */
  def qResourceAlloc(t: Tables): DataFrame = {
    val und = undirected(t)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val adj = und.join(deg.withColumnRenamed("node", "u"), Seq("u"))
      .filter(col("d") <= 50)
    val wedges = adj.as("x")
      .join(adj.as("y"), col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"),
        expr("1000000 div x.d").as("contrib"))
    val ef = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    wedges
      .groupBy(col("a"), col("b"))
      .agg(sum(col("contrib")).as("ra_fx"), count(lit(1)).as("cn"))
      .join(ef, col("a") === col("u") && col("b") === col("v"), "left_anti")
      .orderBy(col("ra_fx").desc, col("a").asc, col("b").asc)
      .limit(20)
      .select(col("a").as("u"), col("b").as("v"), col("ra_fx"), col("cn"))
  }

  val qResourceAllocSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ef AS (SELECT u, v FROM e0 WHERE w >= 2),
      |und AS (SELECT u, v FROM ef UNION ALL SELECT v AS u, u AS v FROM ef),
      |deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY 1),
      |adj AS (SELECT und.u, und.v, deg.d FROM und JOIN deg ON deg.node = und.u
      |        WHERE deg.d <= 50),
      |wedge AS (
      |  SELECT x.v AS a, y.v AS b, 1000000 // x.d AS contrib
      |  FROM adj x JOIN adj y ON x.u = y.u AND x.v < y.v),
      |cand AS (
      |  SELECT a, b, CAST(sum(contrib) AS BIGINT) AS ra_fx,
      |    CAST(count(*) AS BIGINT) AS cn
      |  FROM wedge GROUP BY 1, 2),
      |nonedge AS (
      |  SELECT c.* FROM cand c LEFT JOIN ef ON ef.u = c.a AND ef.v = c.b
      |  WHERE ef.u IS NULL)
      |SELECT a AS u, b AS v, ra_fx, cn FROM nonedge
      |ORDER BY ra_fx DESC, a, b LIMIT 20""".stripMargin

  /** D117: degree assortativity of the co-purchase graph — the
    * Pearson correlation of endpoint degrees over all (oriented)
    * edges: positive ⇒ hubs attach to hubs (social-network shape),
    * negative ⇒ hubs attach to leaves (dependency/star shape); the
    * one-number structural fingerprint beside D46 clustering and
    * D85 k-core depth. All five moments (M, Σx, Σxy, Σx², and the
    * symmetric Σy pair) are exact BIGINT sums of integer degrees;
    * the Pearson numerator/denominators are DECIMAL(38) cross-
    * products (HUGEINT in the twin) and only the FINAL
    * r = num / (√d1·√d2) is a double — IEEE sqrt is correctly
    * rounded, so one fixed-order expression, 4-dp emission.
    *
    * Scale shape: degree table is one node-keyed agg; moments are
    * one edge-keyed join + global agg (map-side combined, 1-row
    * reduce). Nothing quadratic, no window.
    */
  def qAssortativity(t: Tables): DataFrame = {
    val und = undirected(t)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val xy = und
      .join(deg.select(col("node").as("u"), col("d").as("x")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("y")), Seq("v"))
    xy.agg(
      count(lit(1)).as("m2"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .select(col("m2"),
        round(
          (expr("CAST(m2 AS DECIMAL(38,0))") * col("sxy")
            - expr("CAST(sx AS DECIMAL(38,0))") * col("sy")).cast("double")
            / (sqrt((expr("CAST(m2 AS DECIMAL(38,0))") * col("sxx")
              - expr("CAST(sx AS DECIMAL(38,0))") * col("sx")).cast("double"))
              * sqrt((expr("CAST(m2 AS DECIMAL(38,0))") * col("syy")
                - expr("CAST(sy AS DECIMAL(38,0))") * col("sy")).cast("double"))),
          4).as("assortativity"))
  }

  val qAssortativitySql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ef AS (SELECT u, v FROM e0 WHERE w >= 2),
      |und AS (SELECT u, v FROM ef UNION ALL SELECT v AS u, u AS v FROM ef),
      |deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY 1),
      |xy AS (
      |  SELECT dx.d AS x, dy.d AS y
      |  FROM und JOIN deg dx ON dx.node = und.u JOIN deg dy ON dy.node = und.v),
      |mo AS (
      |  SELECT CAST(count(*) AS BIGINT) AS m2,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM xy)
      |SELECT m2,
      |  round(CAST(CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |    / (sqrt(CAST(CAST(m2 AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
      |     * sqrt(CAST(CAST(m2 AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))),
      |    4) + 0 AS assortativity
      |FROM mo""".stripMargin

  /** D118: attribute modularity of the BRAND partition on the
    * co-purchase graph — Newman's Q for the node grouping induced by
    * `p_brand`: Q = Σ_c (e_c/m − (d_c/2m)²), the homophily gauge
    * ("do parts co-purchase within their brand more than a random
    * graph with these degrees would?"); complements D70 LPA (which
    * FINDS communities) by SCORING a given partition. Exact
    * integers end-to-end: per-brand term 4m·e_c − d_c² is BIGINT
    * (Σ_c d_c = 2m bounds every operand by 4m²), emitted beside the
    * 6-dp double term/(4m²); ordering by brand closes determinism.
    *
    * Scale shape: one edges⋈brand join per endpoint (node-keyed),
    * one brand-keyed agg for d_c, one for e_c (intra edges only) —
    * brand-bounded output, no window, no quadratic step.
    */
  def qGraphModularity(t: Tables): DataFrame = {
    val ef = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    val und = undirected(t)
    val brand = t.part.select(col("p_partkey").as("node"), col("p_brand").as("brand"))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val dSum = deg.join(brand, Seq("node"))
      .groupBy(col("brand")).agg(sum(col("d")).as("d_c"))
    val eIn = ef
      .join(brand.select(col("node").as("u"), col("brand").as("bu")), Seq("u"))
      .join(brand.select(col("node").as("v"), col("brand").as("bv")), Seq("v"))
      .filter(col("bu") === col("bv"))
      .groupBy(col("bu").as("brand")).agg(count(lit(1)).as("e_c"))
    val m = ef.count()
    dSum.join(eIn, Seq("brand"), "left")
      .select(col("brand"),
        coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"),
        (lit(4L * m) * coalesce(col("e_c"), lit(0L)) - col("d_c") * col("d_c"))
          .as("q_term_x4m2"))
      .withColumn("q_term",
        round(col("q_term_x4m2").cast("double") / (4.0 * m.toDouble * m.toDouble), 6))
      .orderBy(col("brand"))
  }

  val qGraphModularitySql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ef AS (SELECT u, v FROM e0 WHERE w >= 2),
      |und AS (SELECT u, v FROM ef UNION ALL SELECT v AS u, u AS v FROM ef),
      |deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY 1),
      |m AS (SELECT count(*) AS m FROM ef),
      |brand AS (SELECT p_partkey AS node, p_brand AS brand FROM part),
      |dsum AS (
      |  SELECT b.brand, CAST(sum(deg.d) AS BIGINT) AS d_c
      |  FROM deg JOIN brand b ON b.node = deg.node GROUP BY 1),
      |ein AS (
      |  SELECT bu.brand, CAST(count(*) AS BIGINT) AS e_c
      |  FROM ef JOIN brand bu ON bu.node = ef.u JOIN brand bv ON bv.node = ef.v
      |  WHERE bu.brand = bv.brand GROUP BY 1)
      |SELECT d.brand, COALESCE(e.e_c, 0) AS e_c, d.d_c,
      |  CAST(4 * (SELECT m FROM m) * COALESCE(e.e_c, 0) - d.d_c * d.d_c AS BIGINT)
      |    AS q_term_x4m2,
      |  round(CAST(4 * (SELECT m FROM m) * COALESCE(e.e_c, 0) - d.d_c * d.d_c AS DOUBLE)
      |    / (4.0 * (SELECT m FROM m) * (SELECT m FROM m)), 6) + 0 AS q_term
      |FROM dsum d LEFT JOIN ein e ON e.brand = d.brand
      |ORDER BY d.brand""".stripMargin
}
