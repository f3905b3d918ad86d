package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 47: uplift evaluation and dedup-blocking
  * quality — the two "is the machinery actually earning its keep"
  * audits: does targeting cause conversions, and does the LSH
  * blocker find the pairs the exact join finds.
  */
object Pipeline49 {

  /** D108: Qini uplift curve by spend decile — the two-arm
    * incrementality view D92's single-arm gains table cannot give:
    * treatment = user-id parity (the D101 arm convention), outcome
    * = converted (≥1 purchase), targeting score = total spend,
    * deciles via `GlobalRank.ntileExact` (range-partitioned sort,
    * never a single-task window). Per decile the cumulative Qini
    * value qini = cumΣconv_t − cumΣconv_c · cum_n_t/cum_n_c, as
    * ×10⁶ integers with the control scaling cross-multiplied before
    * ONE floor division — the incremental conversions attributable
    * to targeting the top-k deciles.
    *
    * Scale shape: one corpus collapse to per-user (spend, treated,
    * converted); decile tiling is the parallel D62/D92 path; the
    * cumulative window runs on the 10-row decile table
    * (allowlisted, constant-size).
    */
  def qUpliftQini(t: Tables): DataFrame = {
    val users = t.events
      .groupBy(col("user_id"))
      .agg(
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("treated", (col("user_id") % 2 === 1).cast("long"))
    val tiled = GlobalRank.ntileExact(users,
      Seq(col("cents").desc, col("user_id").asc), k = 10, out = "decile")
    val byDecile = tiled.groupBy(col("decile"))
      .agg(
        sum(col("treated")).as("n_t"),
        sum(lit(1L) - col("treated")).as("n_c"),
        sum(col("treated") * col("conv")).as("conv_t"),
        sum((lit(1L) - col("treated")) * col("conv")).as("conv_c"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("ct", sum(col("conv_t")).over(w))
      .withColumn("cc", sum(col("conv_c")).over(w))
      .withColumn("nt", sum(col("n_t")).over(w))
      .withColumn("nc", sum(col("n_c")).over(w))
      .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
        expr("(1000000 * (ct * nc - cc * nt)) div nc").as("qini_fx"))
  }

  val qUpliftQiniSql: String =
    """WITH users AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
      |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv,
      |    CAST(user_id % 2 AS BIGINT) AS treated
      |  FROM events GROUP BY 1),
      |tiled AS (
      |  SELECT *, CAST(ntile(10) OVER (ORDER BY cents DESC, user_id) AS BIGINT) AS decile
      |  FROM users),
      |bd AS (
      |  SELECT decile,
      |    CAST(sum(treated) AS BIGINT) AS n_t,
      |    CAST(sum(1 - treated) AS BIGINT) AS n_c,
      |    CAST(sum(treated * conv) AS BIGINT) AS conv_t,
      |    CAST(sum((1 - treated) * conv) AS BIGINT) AS conv_c
      |  FROM tiled GROUP BY 1),
      |c AS (
      |  SELECT decile, n_t, n_c, conv_t, conv_c,
      |    sum(conv_t) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
      |    sum(conv_c) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
      |    sum(n_t) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt,
      |    sum(n_c) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nc
      |  FROM bd)
      |SELECT decile, n_t, n_c, conv_t, conv_c,
      |  CAST((1000000 * (ct * nc - cc * nt)) // nc AS BIGINT) AS qini_fx
      |FROM c""".stripMargin

  /** E30: dedup-blocking quality — recall and precision of the E2
    * MinHash-LSH candidate generator against the E4 exact-Jaccard
    * pair set (threshold 0.5), plus both set sizes: the evaluation
    * that justifies (or indicts) a blocker before anyone trusts the
    * E6 clusters built on it. One row: n_exact, n_cand, n_hit,
    * recall ×10⁶, precision ×10⁶.
    *
    * Scale shape: both pair sets are the session-materialized E4
    * pairs and the E2 candidate join (band-bucketed, never
    * all-pairs); the metric join is pair-keyed on two already-
    * near-dup-sized tables; output is ONE row.
    */
  def ddBlockingEval(t: Tables): DataFrame = {
    val exact = LlmQueries.ngramPairs(t).select(col("doc_a"), col("doc_b"))
    val cand = graft.operators.Dedup
      .minhashLsh(t.documents, "text", "doc_id")
      .select(col("doc_a"), col("doc_b"))
    val nE = exact.count()
    val nC = cand.count()
    val nH = exact.join(cand, Seq("doc_a", "doc_b")).count()
    import t.spark.implicits._
    Seq((nE, nC, nH))
      .toDF("n_exact", "n_cand", "n_hit")
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        expr("(1000000 * n_hit) div greatest(n_exact, 1)").as("recall_fx"),
        expr("(1000000 * n_hit) div greatest(n_cand, 1)").as("precision_fx"))
  }

  val ddBlockingEvalSql: String =
    s"""WITH exact_p AS (${LlmQueries.ddNgramJaccardSql}),
       |cand AS (${LlmQueries.ddMinhashLshSql}),
       |m AS (
       |  SELECT
       |    (SELECT count(*) FROM exact_p) AS n_exact,
       |    (SELECT count(*) FROM cand) AS n_cand,
       |    (SELECT count(*) FROM exact_p e JOIN cand c
       |       ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b) AS n_hit)
       |SELECT n_exact, n_cand, n_hit,
       |  (1000000 * n_hit) // greatest(n_exact, 1) AS recall_fx,
       |  (1000000 * n_hit) // greatest(n_cand, 1) AS precision_fx
       |FROM m""".stripMargin
}
