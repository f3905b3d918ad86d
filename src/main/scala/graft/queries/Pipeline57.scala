package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 extension batch 60: harmonic centrality, Spearman rank
  * correlation, and Cohen's kappa — centrality, monotone-association,
  * and inter-rater agreement, each previously absent from the
  * D-layer (grep-checked zero prior mentions).
  */
object Pipeline57 {

  /** D119: bounded-horizon harmonic centrality of the five
    * highest-degree nodes of the co-purchase graph — H(v) =
    * Σ_{u: d(v,u) ≤ 3} 1/d(v,u), the centrality that handles
    * disconnected graphs where closeness breaks (unreached nodes
    * contribute 0, not ∞). Exact ×10⁶ integers: each reached node
    * contributes `1000000 div dist` and the per-seed long sum is
    * order-free. Horizon-3 bound is the D83 BFS convention: at
    * 100 TB an unbounded sweep is a diameter-length job chain, while
    * fixed-horizon centrality is the standard seed-audit read.
    *
    * Scale shape: seeds are a driver-side top-5 (deg desc, node) —
    * model-sized like k-means centroids; each BFS round is ONE
    * node-keyed hash join of the (seed, frontier) table against the
    * edge list + an anti-join vs the visited set (checkpointed per
    * round, never edge×edge); the reached set is ≤ 5·nodes.
    */
  def qHarmonicCentrality(t: Tables): DataFrame = {
    val ef = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    val und = ef.unionAll(ef.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint(true)
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val seeds = deg.orderBy(col("d").desc, col("node").asc).limit(5)
      .select(col("node")).collect().map(_.getLong(0))
    import t.spark.implicits._
    var visited = seeds.toSeq.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0).as("dist"))
      .localCheckpoint(true)
    for (h <- 1 to 3) {
      val next = visited.filter(col("dist") === h - 1)
        .join(und, col("node") === col("u"))
        .select(col("seed"), col("v").as("node"))
        .distinct()
        .join(visited.select(col("seed"), col("node")), Seq("seed", "node"), "left_anti")
        .withColumn("dist", lit(h))
      visited = visited.unionAll(next).localCheckpoint(true)
    }
    visited.filter(col("dist") >= 1)
      .groupBy(col("seed"))
      .agg(sum(expr("1000000 div dist")).as("h_fx"),
        count(lit(1)).as("n_reached"))
      .orderBy(col("seed"))
  }

  val qHarmonicCentralitySql: String =
    """WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ef AS (SELECT u, v FROM e0 WHERE w >= 2),
      |und AS (SELECT u, v FROM ef UNION ALL SELECT v AS u, u AS v FROM ef),
      |deg AS (SELECT u AS node, count(*) AS d FROM und GROUP BY 1),
      |seeds AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 5),
      |r(seed, node, dist) AS (
      |  SELECT node, node, 0 FROM seeds
      |  UNION
      |  SELECT r.seed, e.v, r.dist + 1 FROM r JOIN und e ON e.u = r.node
      |  WHERE r.dist < 3),
      |rmin AS (SELECT seed, node, min(dist) AS dist FROM r GROUP BY 1, 2)
      |SELECT seed, CAST(sum(1000000 // dist) AS BIGINT) AS h_fx,
      |  CAST(count(*) AS BIGINT) AS n_reached
      |FROM rmin WHERE dist >= 1 GROUP BY 1 ORDER BY 1""".stripMargin

  /** D120: Spearman rank correlation between a customer's order
    * COUNT and total SPEND — the monotone-association companion to
    * the Pearson moments the D-layer already has: Spearman sees any
    * monotone relation, not just linear. Ranks are ORDINAL over the
    * total orders (value, custkey) — a stated, deterministic
    * tie-policy both engines replicate exactly (tie-averaged ranks
    * would need a global per-value window); with both rank vectors
    * permutations of 1..n the closed form ρ = 1 − 6Σd²/(n(n²−1))
    * applies: Σd² is an exact DECIMAL(38)/HUGEINT sum and ρ is ONE
    * fixed-order double expression, 6 dp.
    *
    * Scale shape: per-customer metrics are one orders-keyed agg;
    * each rank vector comes from `GlobalRank.rankExact` — a
    * range-partitioned parallel sort + per-partition-offset zip,
    * NEVER a single-task global window (the D75/D92 machinery);
    * the d² reduce is one map-side-combined global agg.
    */
  def qSpearman(t: Tables): DataFrame = {
    val m = t.orders.groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).as("cents"))
    val r1 = GlobalRank.rankExact(m.select(col("ck"), col("cnt")),
      Seq(col("cnt"), col("ck")), "r1").select(col("ck"), col("r1"))
    val r2 = GlobalRank.rankExact(m.select(col("ck"), col("cents")),
      Seq(col("cents"), col("ck")), "r2").select(col("ck"), col("r2"))
    r1.join(r2, Seq("ck"))
      .select(((col("r1") - col("r2")) * (col("r1") - col("r2"))).as("dd"))
      .agg(count(lit(1)).as("n"),
        sum(col("dd").cast("decimal(38,0)")).as("sd2"))
      .select(col("n"),
        col("sd2").cast("string").as("sum_d2"),
        round(lit(1.0) - lit(6.0) * col("sd2").cast("double")
          / (col("n").cast("double")
            * (col("n").cast("double") * col("n").cast("double") - lit(1.0))),
          6).as("rho"))
  }

  val qSpearmanSql: String =
    """WITH m AS (
      |  SELECT o_custkey AS ck, count(*) AS cnt,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r1 AS (SELECT ck, CAST(row_number() OVER (ORDER BY cnt, ck) AS BIGINT) AS r1 FROM m),
      |r2 AS (SELECT ck, CAST(row_number() OVER (ORDER BY cents, ck) AS BIGINT) AS r2 FROM m),
      |d AS (SELECT (r1.r1 - r2.r2) * (r1.r1 - r2.r2) AS dd
      |      FROM r1 JOIN r2 ON r1.ck = r2.ck),
      |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |              CAST(sum(CAST(dd AS HUGEINT)) AS HUGEINT) AS sd2 FROM d)
      |SELECT n, CAST(sd2 AS VARCHAR) AS sum_d2,
      |  round(1.0 - 6.0 * CAST(sd2 AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)),
      |    6) + 0 AS rho
      |FROM mo""".stripMargin

  /** D121: Cohen's kappa between the corpus's two independent keep
    * decisions — the G22 Gopher rule filter and the G16 logistic
    * quality classifier: chance-corrected agreement, THE standard
    * read for "do my two curation gates agree beyond what their
    * keep-rates force?" (po alone is inflated when both gates keep
    * most docs). Exact integers: the 2×2 confusion (a=both keep,
    * b=rules only, c=classifier only, d=neither) feeds the
    * cross-multiplied identity κ = 2(ad − bc) /
    * ((a+b)(b+d) + (a+c)(c+d)) — one fixed-order double division,
    * 6 dp; both gate decisions reuse the registry rows' exact
    * column expressions (4-dp-rounded boundaries), so this row is
    * green iff the composition is.
    *
    * Scale shape: one documents scan computing both gates inline
    * (map-only), ONE 4-cell conditional aggregate. No join, no
    * window, nothing second-pass.
    */
  def qCohensKappa(t: Tables): DataFrame = {
    val sig = Pipeline5.gopherSignalCols(col("text"))
    val sigMap = sig.toMap
    val gopher = Pipeline5.gopherKeep(sigMap("n_words"), sigMap("mean_word_len"),
      sigMap("stop_hits"), sigMap("alpha_frac"))
    val quality = Pipeline2.qualityScoreCol(col("text")) >= 0.5
    t.documents
      .select(gopher.as("g"), quality.as("q"))
      .agg(
        sum(when(col("g") && col("q"), 1L).otherwise(0L)).as("a"),
        sum(when(col("g") && !col("q"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("g") && col("q"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("g") && !col("q"), 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"),
        round(lit(2.0) * (col("a") * col("d") - col("b") * col("c")).cast("double")
          / ((col("a") + col("b")) * (col("b") + col("d"))
            + (col("a") + col("c")) * (col("c") + col("d"))).cast("double"),
          6).as("kappa"))
  }

  val qCohensKappaSql: String = {
    val stop = graft.operators.TextOps.Stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
       |    length(regexp_replace(text, '\\s', '', 'g')) AS cnw,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |      w -> list_contains([$stop], w))) AS BIGINT) AS stop_hits,
       |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
       |    CAST(length(text) AS DOUBLE) AS chars,
       |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
       |      / length(text) AS punct
       |  FROM documents),
       |g AS (
       |  SELECT
       |    (n_words BETWEEN 30 AND 1000
       |     AND round(CAST(cnw AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
       |         BETWEEN 3.0 AND 10.0
       |     AND stop_hits >= 2
       |     AND round(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 4) >= 0.8)
       |      AS gk,
       |    (round(1.0 / (1.0 + exp(-(-0.37 + 0.291 * ln(1.0 + n_tok)
       |      - 4.13 * punct - 0.177 * (chars / n_tok)))), 4) >= 0.5) AS qk
       |  FROM s),
       |conf AS (
       |  SELECT
       |    CAST(sum(CASE WHEN gk AND qk THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN gk AND NOT qk THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN NOT gk AND qk THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN NOT gk AND NOT qk THEN 1 ELSE 0 END) AS BIGINT) AS d
       |  FROM g)
       |SELECT a, b, c, d,
       |  round(2.0 * CAST(a * d - b * c AS DOUBLE)
       |    / CAST((a + b) * (b + d) + (a + c) * (c + d) AS DOUBLE), 6) + 0 AS kappa
       |FROM conf""".stripMargin
  }
}
