package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 5: maximum-inner-product retrieval, a
  * noisy-release histogram, and the composed per-language corpus
  * card. Every entry is a SURVEY §2 row with a DuckDB oracle.
  */
object Pipeline8 {

  /** F9: exact MIPS top-5 for the 10 query vectors — the retrieval
    * objective when vector norms carry signal (recommendation /
    * retrieval scores), where cosine top-k (F1) ranks wrongly.
    * Brute force is the oracle-able baseline; the scale path is
    * `Similarity.mipsAugment`, which reduces MIPS to cosine so the
    * F2/F4 ANN indexes serve it (spec pins the reduction's ranking
    * equivalence).
    */
  def simMipsTopk(t: Tables): DataFrame =
    Similarity.mipsTopK(t.embeddings,
      t.embeddings.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)

  val simMipsTopkSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, b.vec_id AS base_id,
      |    round(list_sum(list_transform(list_zip(b.embedding, q.qv),
      |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 4) + 0 AS score
      |  FROM embeddings b, q WHERE b.vec_id != q.query_id)
      |SELECT query_id, base_id, score, rank FROM (
      |  SELECT query_id, base_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, base_id) AS rank
      |  FROM scored) x
      |WHERE rank <= 5""".stripMargin

  /** D43: noisy-count release — the Laplace-mechanism SHAPE of a
    * differentially-private histogram release (noise = −b·sign(u−½)
    * ·ln(1−2|u−½|), the inverse-CDF sample at scale b=2), with the
    * uniform drawn from the shared closed-form LCG so the release
    * is reproducible and oracle-able. A production deployment swaps
    * the seeded stream for a CSPRNG — determinism here is a
    * TESTABILITY choice, not a privacy claim. Post-aggregation
    * map math: one group shuffle, noise costs nothing at any scale.
    */
  def qDpCounts(t: Tables): DataFrame = {
    val P = 1000000007L
    val counts = t.lineitem
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val mix = (pmod(ascii(col("l_returnflag")).cast("long"), lit(P))
      * lit(2654435761L) + lit(1013904223L)) % lit(P)
    val u = (mix.cast("double") + lit(0.5)) / lit(P.toDouble)
    val lap = (lit(-2.0) * signum(u - lit(0.5))) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    counts.select(col("l_returnflag"),
      round(col("n").cast("double") + lap, 4).as("noisy_n"))
  }

  val qDpCountsSql: String =
    """WITH c AS (SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1),
      |u AS (SELECT l_returnflag, n,
      |  (((ascii(l_returnflag) % 1000000007) * 2654435761 + 1013904223) % 1000000007
      |    + 0.5) / 1000000007 AS u
      |  FROM c)
      |SELECT l_returnflag,
      |  round(CAST(n AS DOUBLE) +
      |    (-2.0 * CAST(sign(u - 0.5) AS DOUBLE)) * ln(1.0 - 2.0 * abs(u - 0.5)),
      |    4) + 0 AS noisy_n
      |FROM u""".stripMargin

  /** M16: the per-language corpus card — the one-table summary a
    * dataset release ships (and a mixture designer reads): document
    * and token counts, mean document length, Gopher keep rate (G22
    * signals inline), mean Flesch readability (G23 counts inline).
    * ONE corpus scan computing every signal, then a ≤n_langs-row
    * rollup; per-doc flesch aggregates as exact ×10⁴ fixed-point
    * longs (the M11 lesson: long sums are order-independent where a
    * double sum's 4th decimal flips on accumulation order).
    */
  def pipeCorpusCard(t: Tables): DataFrame = {
    val docs = t.documents
    val sig = Pipeline5.gopherSignalCols(col("text"))
    val (nW, nS, nSy) = Pipeline6.readabilityCounts(col("text"))
    val perDoc = docs.select(
      col("lang") +: sig.map { case (n, c) => c.as(n) } :+
        Pipeline6.fleschCol(nW, nS, nSy).as("flesch"): _*)
      .withColumn("keep", Pipeline5.gopherKeep(col("n_words"),
        col("mean_word_len"), col("stop_hits"), col("alpha_frac")))
      .withColumn("fx", round(col("flesch") * lit(10000.0), 0).cast("long"))
    perDoc.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(col("fx")).as("sum_fx"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"), 4)
          .as("mean_words"),
        round(col("n_keep").cast("double") / col("n_docs").cast("double"), 4)
          .as("keep_frac"),
        round(col("sum_fx").cast("double") / col("n_docs").cast("double") / 10000.0, 4)
          .as("mean_flesch"))
  }

  val pipeCorpusCardSql: String = {
    val stop = graft.operators.TextOps.Stopwords.head._2
      .map(w => s"'$w'").mkString(", ")
    s"""WITH s AS (
       |  SELECT lang,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
       |    length(regexp_replace(text, '\\s', '', 'g')) AS cnw,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |      w -> list_contains([$stop], w))) AS BIGINT) AS stop_hits,
       |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
       |    regexp_replace(lower(text), '[aeiouy]+', chr(1), 'g') AS sm,
       |    regexp_replace(text, '[.!?]+', chr(1), 'g') AS tm
       |  FROM documents),
       |r AS (
       |  SELECT lang, n_words,
       |    round(CAST(cnw AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS mwl,
       |    stop_hits,
       |    round(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS af,
       |    greatest(CAST(length(tm) - length(replace(tm, chr(1), '')) AS BIGINT), 1) AS n_sents,
       |    CAST(length(sm) - length(replace(sm, chr(1), '')) AS BIGINT) AS n_syll
       |  FROM s),
       |d AS (
       |  SELECT lang, n_words,
       |    (n_words BETWEEN 30 AND 1000 AND mwl BETWEEN 3.0 AND 10.0
       |      AND stop_hits >= 2 AND af >= 0.8) AS keep,
       |    CAST(round(round(206.835
       |        - 1.015 * round(CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE), 4)
       |        - 84.6 * round(CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE), 4),
       |      4) * 10000.0) AS BIGINT) AS fx
       |  FROM r)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(n_words) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) + 0 AS mean_words,
       |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE), 4) + 0 AS keep_frac,
       |  round(CAST(sum(fx) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 10000.0, 4) + 0 AS mean_flesch
       |FROM d GROUP BY lang""".stripMargin
  }
}
