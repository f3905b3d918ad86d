package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 20: Lorenz-curve deciles and the
  * dedup-threshold tuning curve. (The batch's streaming row,
  * `st_checkpoint_resume`, lives in [[StreamQueries]].)
  */
object Pipeline23 {

  /** D75: Lorenz curve of customer spend in deciles — the curve
    * D47's Gini summarizes to one number: per spend decile, customer
    * count, exact decile cents, and the cumulative spend share ×10⁶
    * (the "bottom 50% hold X%" release statement).
    *
    * Scale shape: one corpus collapse to per-customer cents; decile
    * assignment is [[GlobalRank.ntileExact]] (range-partitioned
    * parallel sort — never a single-task global window over
    * customers); everything after runs on the 10-row decile table
    * (its cumulative window is PlanGuard-allowlisted as
    * decile-bounded). Exact integers end to end.
    */
  def qLorenz(t: Tables): DataFrame = {
    val perCust = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val tiled = GlobalRank.ntileExact(perCust,
      Seq(col("cents").asc, col("o_custkey").asc), k = 10, out = "decile")
    val byDecile = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("decile_cents"))
    val tot = byDecile.agg(sum(col("decile_cents")).as("all_cents"))
    val cumW = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .crossJoin(broadcast(tot))
      .withColumn("cum_cents", sum(col("decile_cents")).over(cumW))
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        expr("(1000000 * cum_cents) div all_cents").as("cum_share_fx"))
  }

  val qLorenzSql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |tiled AS (
      |  SELECT cents,
      |    CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS decile
      |  FROM pc),
      |d AS (
      |  SELECT decile, count(*) AS n_customers,
      |    CAST(sum(cents) AS BIGINT) AS decile_cents
      |  FROM tiled GROUP BY 1),
      |t AS (SELECT CAST(sum(decile_cents) AS BIGINT) AS all_cents FROM d)
      |SELECT decile, n_customers, decile_cents,
      |  CAST((1000000 * sum(decile_cents) OVER (ORDER BY decile
      |     ROWS UNBOUNDED PRECEDING)) // all_cents AS BIGINT) AS cum_share_fx
      |FROM d CROSS JOIN t""".stripMargin

  /** E26: dedup threshold tuning curve — for each candidate Jaccard
    * threshold (0.5 … 0.9), how many near-dup pairs fire and how
    * many documents they touch. The knob-tuning audit run BEFORE
    * committing a threshold to E2/E4: the curve's knee is where the
    * threshold stops separating boilerplate from genuine content.
    *
    * Scale shape: reuses the session-cached E4 candidate pairs
    * (doc-freq-capped inverted shingle index — already bounded);
    * thresholds compare on the ROUNDED ×10⁴ score exactly as E4's
    * keep rule does, so no pair can land on different sides of a
    * threshold across engines; everything after is pair-bounded.
    */
  def ddThresholdCurve(t: Tables): DataFrame = {
    val pairs = LlmQueries.ngramPairs(t)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(round(jaccard * 10000) AS BIGINT)").as("jfx"))
    val thresholds = explode(typedLit(Seq(5000L, 6000L, 7000L, 8000L, 9000L)))
    val tagged = pairs
      .select(col("doc_a"), col("doc_b"), col("jfx"), thresholds.as("tau"))
      .filter(col("jfx") >= col("tau"))
      .localCheckpoint(true)
    val nPairs = tagged.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = tagged
      .select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct()
      .groupBy(col("tau")).agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("tau"))
      .select(col("tau"), col("n_pairs"), col("n_docs"))
  }

  val ddThresholdCurveSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
      |idx AS (
      |  SELECT * FROM (
      |    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) x
      |  WHERE df <= 100),
      |p0 AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(round(round(CAST(inter AS DOUBLE)
      |      / (sa.set_size + sb.set_size - inter), 4) * 10000) AS BIGINT) AS jfx
      |  FROM p0
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b),
      |tagged AS (
      |  SELECT doc_a, doc_b, jfx, tau
      |  FROM pairs CROSS JOIN (SELECT unnest([5000, 6000, 7000, 8000, 9000]) AS tau) t
      |  WHERE jfx >= tau),
      |np AS (SELECT tau, count(*) AS n_pairs FROM tagged GROUP BY 1),
      |nd AS (
      |  SELECT tau, count(*) AS n_docs FROM (
      |    SELECT DISTINCT tau, doc FROM (
      |      SELECT tau, unnest([doc_a, doc_b]) AS doc FROM tagged) u) v
      |  GROUP BY 1)
      |SELECT CAST(np.tau AS BIGINT) AS tau, np.n_pairs, nd.n_docs
      |FROM np JOIN nd USING (tau)""".stripMargin
}
