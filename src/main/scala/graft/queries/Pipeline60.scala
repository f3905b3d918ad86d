package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 extension batch 63: vocabulary coverage curve, Good–Turing
  * unseen mass, and McNemar's paired-gate test — the tokenizer-
  * planning and gate-comparison statistics still missing from the
  * G/D layers (grep-checked zero prior mentions of coverage curve /
  * Good–Turing / McNemar).
  */
object Pipeline60 {

  /** Lowercased whitespace unigrams with corpus counts — the shared
    * input of G41/G42 (the G11 tokenization convention).
    */
  private def unigrams(t: Tables): DataFrame =
    t.documents
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** G41: vocabulary coverage curve — what fraction of corpus token
    * OCCURRENCES the k most frequent words cover, at k ∈ {100, 1000,
    * 10000}: THE tokenizer/vocab-size planning read (the knee of
    * this curve is where a bigger vocab stops paying). Exact ×10⁶
    * integers: covered·10⁶ div total per k; the top-10000 list comes
    * from ONE TakeOrderedAndProject (per-partition heaps, (cnt desc,
    * word) determinism) and the three prefix sums run driver-side
    * over that model-sized array (the k-means-centroid convention) —
    * no vocabulary-sized window anywhere.
    *
    * Scale shape: one corpus token scan into a word-keyed map-side-
    * combined count; one global long sum for the denominator; one
    * heap-limited top-k. Output is 3 rows at any corpus size.
    */
  def txVocabCoverage(t: Tables): DataFrame = {
    val uni = unigrams(t).localCheckpoint(true)
    val total = uni.agg(sum(col("cnt"))).head().getLong(0)
    val top = uni.orderBy(col("cnt").desc, col("w").asc).limit(10000)
      .select(col("cnt")).collect().map(_.getLong(0))
    import t.spark.implicits._
    Seq(100, 1000, 10000).map { k =>
      val covered = top.take(k).sum
      (k.toLong, covered, total, covered * 1000000L / total)
    }.toDF("k", "covered", "total", "covered_ppm")
  }

  val txVocabCoverageSql: String =
    """WITH uni AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents) t
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
      |ranked AS (
      |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM uni),
      |ks AS (SELECT unnest([100, 1000, 10000]) AS k)
      |SELECT CAST(ks.k AS BIGINT) AS k,
      |  CAST(sum(r.cnt) AS BIGINT) AS covered,
      |  t.total,
      |  CAST(sum(r.cnt) * 1000000 // t.total AS BIGINT) AS covered_ppm
      |FROM ks JOIN ranked r ON r.rk <= ks.k CROSS JOIN tot t
      |GROUP BY ks.k, t.total ORDER BY k""".stripMargin

  /** G42: Good–Turing frequency-of-frequencies — the unseen-mass
    * estimate P₀ = N₁/N (how much probability the corpus has never
    * shown you: THE coverage-risk read before deploying a
    * vocabulary/LM built on this corpus) plus the smoothed count
    * ratios r* = (r+1)·N_{r+1}/N_r for r ∈ 1..5, all as exact ×10⁶
    * fixed point over exact integer counts — frequency-of-
    * frequencies is two nested exact aggs, nothing floats.
    *
    * Scale shape: word-keyed count, then count-keyed count (both
    * map-side combined); the N_r table is count-bounded (≤ distinct
    * frequencies); output is 6 rows.
    */
  def txGoodTuring(t: Tables): DataFrame = {
    val uni = unigrams(t).localCheckpoint(true)
    val nr = uni.groupBy(col("cnt").as("r")).agg(count(lit(1)).as("n_r"))
      .filter(col("r") <= 6)
    val total = uni.agg(sum(col("cnt"))).head().getLong(0)
    val byR = nr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    import t.spark.implicits._
    val rows = (0L to 5L).map { r =>
      if (r == 0L) {
        val n1 = byR.getOrElse(1L, 0L)
        (0L, 0L, n1 * 1000000L / total)
      } else {
        val nrv = byR.getOrElse(r, 0L)
        val nr1 = byR.getOrElse(r + 1L, 0L)
        val rStarFx = if (nrv == 0L) 0L else (r + 1L) * nr1 * 1000000L / nrv
        (r, nrv, rStarFx)
      }
    }
    rows.toDF("r", "n_r", "gt_fx")
  }

  val txGoodTuringSql: String =
    """WITH uni AS (
      |  SELECT w, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
      |    FROM documents) t
      |  GROUP BY 1),
      |nr AS (SELECT cnt AS r, CAST(count(*) AS BIGINT) AS n_r FROM uni GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM uni),
      |rs AS (SELECT unnest(range(0, 6)) AS r)
      |SELECT CAST(rs.r AS BIGINT) AS r,
      |  CAST(CASE WHEN rs.r = 0 THEN 0 ELSE COALESCE(a.n_r, 0) END AS BIGINT) AS n_r,
      |  CAST(CASE
      |    WHEN rs.r = 0 THEN COALESCE(
      |      (SELECT n_r FROM nr WHERE r = 1), 0) * 1000000 // t.total
      |    WHEN COALESCE(a.n_r, 0) = 0 THEN 0
      |    ELSE (rs.r + 1) * COALESCE(b.n_r, 0) * 1000000 // a.n_r
      |  END AS BIGINT) AS gt_fx
      |FROM rs
      |LEFT JOIN nr a ON a.r = rs.r
      |LEFT JOIN nr b ON b.r = rs.r + 1
      |CROSS JOIN tot t
      |ORDER BY r""".stripMargin

  /** D126: McNemar's test on the two curation gates (the D121
    * pairing) — where kappa scores AGREEMENT, McNemar asks whether
    * the DISAGREEMENTS are one-sided: of the docs the gates disagree
    * on, does the rule filter keep significantly more than the
    * classifier (b vs c)? The continuity-corrected statistic
    * χ² = (|b−c|−1)²/(b+c) is exact integers over one double
    * division, 4 dp (null when b+c = 0 — no disagreements, nothing
    * to test). One map-only scan, one 2-cell agg.
    */
  def qMcnemar(t: Tables): DataFrame = {
    val sig = Pipeline5.gopherSignalCols(col("text"))
    val sigMap = sig.toMap
    val gopher = Pipeline5.gopherKeep(sigMap("n_words"), sigMap("mean_word_len"),
      sigMap("stop_hits"), sigMap("alpha_frac"))
    val quality = Pipeline2.qualityScoreCol(col("text")) >= 0.5
    t.documents
      .select(gopher.as("g"), quality.as("q"))
      .agg(
        sum(when(col("g") && !col("q"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("g") && col("q"), 1L).otherwise(0L)).as("c"))
      .select(col("b"), col("c"),
        when(col("b") + col("c") === 0L, lit(null).cast("double")).otherwise(
          round(((abs(col("b") - col("c")) - lit(1L))
            * (abs(col("b") - col("c")) - lit(1L))).cast("double")
            / (col("b") + col("c")).cast("double"), 4)).as("chi2"))
  }

  val qMcnemarSql: String = {
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
       |    CAST(sum(CASE WHEN gk AND NOT qk THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN NOT gk AND qk THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM g)
       |SELECT b, c,
       |  CASE WHEN b + c = 0 THEN NULL ELSE
       |    round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
       |      / CAST(b + c AS DOUBLE), 4) + 0
       |  END AS chi2
       |FROM conf""".stripMargin
  }
}
