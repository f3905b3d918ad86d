package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 38: weighted reservoir sampling and
  * sequential hypothesis testing — the "which rows do we keep" and
  * "when do we stop the experiment" decisions a data pipeline makes
  * continuously.
  */
object Pipeline42 {

  /** N21: weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): 20 docs per source with inclusion probability
    * proportional to length — sample longer documents more often
    * without ever materializing a cumulative-weight table. Each doc
    * draws u from the shared D90 LCG mix of its id and keeps key
    * ln(u)/w; the k LARGEST keys per group are exactly a weighted
    * draw without replacement (the A-ES theorem). Deterministic by
    * construction — the "randomness" is the cross-engine integer
    * mix, so the oracle reproduces the sample bit-for-bit (the N1
    * split-assignment convention, upgraded to weighted).
    *
    * Scale shape: map-side key computation at scan speed, then ONE
    * `TopKAgg` exchange — size-k heap partials merged map-side, so
    * a per-source sample over 100 TB shuffles ≤ k rows per (mapper,
    * source) and never sorts a partition (the E27 heap convention;
    * a row_number window would sort every source end-to-end).
    */
  def smWeightedSample(t: Tables): DataFrame = {
    val keyed = t.documents.select(col("source"), col("doc_id"),
      expr("""ln((((doc_id % 1000000007) * 2654435761 + 1013904223)
             |  % 1000000007 % 1048576 + 1) / 1048577.0)
             | / n_chars""".stripMargin).as("key"))
    keyed
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg(col("key"), col("doc_id"), 20).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.payload").as("doc_id"),
        expr("CAST(round(col.ord * 1000000) AS BIGINT)").as("key_fx"))
  }

  val smWeightedSampleSql: String =
    """WITH k AS (
      |  SELECT source, doc_id,
      |    ln((((doc_id % 1000000007) * 2654435761 + 1013904223)
      |        % 1000000007 % 1048576 + 1) / 1048577.0)
      |      / n_chars AS key
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, key,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY key DESC, doc_id) AS rank
      |  FROM k)
      |SELECT source, rank, doc_id,
      |  CAST(round(key * 1000000) AS BIGINT) AS key_fx
      |FROM r WHERE rank <= 20""".stripMargin

  /** D101: SPRT sequential A/B decision (Wald): the daily
    * cumulative log-likelihood ratio for arm B's conversion rate
    * under H1 (p = 0.30) vs H0 (p = 0.25), with the α = β = 0.05
    * decision bands ±ln(19) — the early-stopping monitor that reads
    * the experiment ONCE per day instead of waiting for D52's
    * fixed-horizon lift test. Per-day LLR increments use the
    * PRE-ROUNDED ×10⁴ integer constants C1 = ⌊ln(p1/p0)·10⁴⌉ = 1823
    * and C0 = ⌊ln(q1/q0)·10⁴⌉ = −690, so the running sum is exact
    * integer arithmetic and the crossing day cannot drift between
    * engines.
    *
    * Scale shape: the corpus collapses ONCE to (day, trials,
    * conversions) for arm B (user_id parity assignment, the D52
    * convention); the cumulative window runs on the calendar-
    * bounded day table (D74's audited pattern).
    */
  def qSprt(t: Tables): DataFrame = {
    val daily = t.events
      .filter(col("user_id") % 2 === 1)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_b"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv_b"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("llr_fx", expr("conv_b * 1823 + (n_b - conv_b) * (-690)"))
      .withColumn("cum_llr_fx", sum(col("llr_fx")).over(w))
      .select(col("day"), col("n_b"), col("conv_b"), col("llr_fx"), col("cum_llr_fx"),
        when(col("cum_llr_fx") > 29444, "accept_h1")
          .when(col("cum_llr_fx") < -29444, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  val qSprtSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_b,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv_b
      |  FROM events WHERE user_id % 2 = 1 GROUP BY 1),
      |c AS (
      |  SELECT day, n_b, CAST(conv_b AS BIGINT) AS conv_b,
      |    CAST(conv_b * 1823 + (n_b - conv_b) * (-690) AS BIGINT) AS llr_fx
      |  FROM daily)
      |SELECT day, n_b, conv_b, llr_fx,
      |  CAST(sum(llr_fx) OVER (ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_llr_fx,
      |  CASE WHEN sum(llr_fx) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 29444
      |       THEN 'accept_h1'
      |       WHEN sum(llr_fx) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) < -29444
      |       THEN 'accept_h0'
      |       ELSE 'continue' END AS decision
      |FROM c""".stripMargin
}
