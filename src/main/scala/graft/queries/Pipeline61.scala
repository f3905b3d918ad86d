package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 extension batch 64: Chao1 vocabulary-richness estimation
  * and the Heaps-law vocabulary growth curve — the "how big is the
  * vocabulary you HAVEN'T seen yet" pair beside G42 Good–Turing's
  * unseen probability mass (G42 asks how much mass is unseen; Chao1
  * asks how many TYPES; the Heaps curve shows the growth law the
  * answer extrapolates along).
  */
object Pipeline61 {

  /** G43: Chao1 richness estimate of the corpus vocabulary —
    * V̂ = V + N₁²/(2·N₂) (bias-corrected form with +1 guards):
    * the classic capture-recapture answer to "how many word types
    * exist that this corpus never captured?", the vocab-size
    * planning complement to G42. Exact integer counts (V, N₁, N₂
    * from two nested map-side-combined aggs); the estimate itself is
    * one fixed-order double, 2 dp (the estimator's own precision).
    */
  def txChao1(t: Tables): DataFrame = {
    val uni = t.documents
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    uni.agg(
      count(lit(1)).as("v"),
      sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("v"), col("n1"), col("n2"),
        round(col("v").cast("double")
          + col("n1").cast("double") * (col("n1").cast("double") - lit(1.0))
          / (lit(2.0) * (col("n2").cast("double") + lit(1.0))), 2).as("chao1"))
  }

  val txChao1Sql: String =
    """WITH uni AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents) t
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS v,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |  CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |  round(CAST(count(*) AS DOUBLE)
      |    + CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      * (CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) - 1.0)
      |    / (2.0 * (CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)),
      |    2) + 0 AS chao1
      |FROM uni""".stripMargin

  /** G44: Heaps-law vocabulary growth curve — cumulative distinct
    * vocabulary vs cumulative token count across ten corpus prefixes
    * (docs ordered by doc_id): the sub-linear V ∝ Nᵝ growth every
    * vocab/memory budget extrapolates along. Computed WITHOUT any
    * per-prefix re-scan: each word contributes to the decile of its
    * FIRST-occurrence doc (one word-keyed min agg), each doc's
    * tokens to its own decile, and the ten cumulative sums come from
    * a decile×decile triangular self-join (10×10 rows — no window,
    * no driver loop). Exact integers end-to-end.
    *
    * Scale shape: one corpus token scan into (word → min doc_id) and
    * (doc-decile → token count) map-side-combined aggs; deciles by
    * closed-form `(doc_id·10) div (max_id+1)` — no ranking pass;
    * everything after is 10-row-bounded.
    */
  def txHeapsCurve(t: Tables): DataFrame = {
    val maxId = t.documents.agg(max(col("doc_id"))).head().getLong(0)
    val tok = t.documents
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
    val firstSeen = tok.groupBy(col("w")).agg(min(col("doc_id")).as("d0"))
      .select(expr(s"(d0 * 10) div ${maxId + 1}L").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_vocab"))
    val tokens = tok
      .select(expr(s"(doc_id * 10) div ${maxId + 1}L").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("toks"))
    val grid = tokens.join(firstSeen, Seq("decile"), "left")
      .select(col("decile"), col("toks"), coalesce(col("new_vocab"), lit(0L)).as("nv"))
    grid.as("a").join(grid.as("b"), col("b.decile") <= col("a.decile"))
      .groupBy(col("a.decile").as("decile"))
      .agg(sum(col("b.toks")).as("cum_tokens"), sum(col("b.nv")).as("cum_vocab"))
      .orderBy(col("decile"))
  }

  val txHeapsCurveSql: String =
    """WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |fs AS (
      |  SELECT (min(doc_id) * 10) // (SELECT m FROM mx) AS decile
      |  FROM tok GROUP BY w),
      |nv AS (SELECT decile, CAST(count(*) AS BIGINT) AS nv FROM fs GROUP BY 1),
      |tk AS (
      |  SELECT (doc_id * 10) // (SELECT m FROM mx) AS decile,
      |    CAST(count(*) AS BIGINT) AS toks
      |  FROM tok GROUP BY 1),
      |grid AS (
      |  SELECT tk.decile, tk.toks, COALESCE(nv.nv, 0) AS nv
      |  FROM tk LEFT JOIN nv ON nv.decile = tk.decile)
      |SELECT a.decile AS decile,
      |  CAST(sum(b.toks) AS BIGINT) AS cum_tokens,
      |  CAST(sum(b.nv) AS BIGINT) AS cum_vocab
      |FROM grid a JOIN grid b ON b.decile <= a.decile
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
