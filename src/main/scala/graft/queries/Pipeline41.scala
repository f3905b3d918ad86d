package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 36: retrieval-index construction and
  * smoothed language-model estimation — the two corpus-level builds
  * a search/LM stack runs after cleaning (M1) and before serving.
  */
object Pipeline41 {

  /** G36: inverted-index posting lists for the corpus's 15 most
    * SELECTIVE terms (lowest document frequency, term-asc ties) —
    * per term the top-3 postings by (tf desc, doc_id asc). The
    * index-construction primitive behind G20's BM25 scoring (BM25
    * *reads* such an index; this materializes it): low-df terms
    * carry the retrieval signal — a high-df term matches most of
    * the corpus and its posting chain is dead weight (the same
    * Zipf reasoning as G21/G29, pointed at the informative tail).
    * A df-RANK cut, not a fixed band: a fixed band drifts off the
    * distribution as the corpus grows.
    *
    * Scale shape: corpus work is the one (term, doc) tf groupBy
    * (map-side combined); df is a second agg on the compacted tf
    * table; the 15-term selection is a TakeOrdered heap over the
    * vocabulary-bounded df table broadcast back as a semi-join, so
    * the posting window only ever sorts the 15 selected terms'
    * chains (low-df by construction), never a stopword chain.
    */
  def txInvertedIndex(t: Tables): DataFrame = {
    val tf = t.documents
      .select(col("doc_id").as("doc"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term"), col("doc"))
      .agg(count(lit(1)).as("tf"))
    val sel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").asc, col("term")).limit(15)
    val w = Window.partitionBy(col("term")).orderBy(col("tf").desc, col("doc"))
    tf.join(broadcast(sel), "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("term"), col("df"), col("rank"), col("doc").as("doc_id"), col("tf"))
  }

  val txInvertedIndexSql: String =
    """WITH terms AS (
      |  SELECT doc_id AS doc,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, doc, count(*) AS tf FROM terms GROUP BY 1, 2),
      |sel AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |  ORDER BY df ASC, term LIMIT 15)
      |SELECT term, df, rank, doc_id, tf FROM (
      |  SELECT tf.term, sel.df,
      |    row_number() OVER (PARTITION BY tf.term
      |      ORDER BY tf.tf DESC, tf.doc) AS rank,
      |    tf.doc AS doc_id, tf.tf
      |  FROM tf JOIN sel USING (term)) x
      |WHERE rank <= 3""".stripMargin

  /** G37: interpolated Kneser–Ney bigram probabilities (discount
    * D = 0.75) for the corpus's 20 most frequent bigrams — the
    * smoothing that separates a usable n-gram LM from the MLE
    * estimates G11/G12 score with (MLE assigns zero mass to unseen
    * continuations; KN backs off to how PROMISCUOUSLY a word
    * continues contexts, not how often it occurs):
    *
    *   P(w₂|w₁) = max(c₁₂ − D, 0)/c₁ + (D·N₁₊(w₁•)/c₁)·N₁₊(•w₂)/T
    *
    * with c₁ = Σ_w c(w₁,w), N₁₊ the distinct-continuation counts
    * and T the total number of distinct bigram types. D = 3/4
    * makes every term a ratio of exact integers: ×10⁶ floor
    * arithmetic end to end ((4c₁₂−3)/(4c₁) for the discounted
    * term), so the fixed point is engine-identical.
    *
    * Scale shape: ONE corpus-sized exchange (the bigram-type
    * groupBy via the native codegen'd `WordBigrams` loop); c₁,
    * N₁₊(w₁•), N₁₊(•w₂) are all aggs ON the compacted type table
    * (G12's compaction convention); T is a 1-row broadcast; the
    * top-20 selection is a TakeOrdered heap, never a global window.
    */
  /** The full KN model: every bigram type with its ×10⁶ interpolated
    * probability (plus the raw count and the join-key string). The
    * compacted type table feeds FOUR aggregates — checkpoint it
    * (D85 convention) or each consumer re-pays the corpus-sized
    * bigram explode + groupBy. Model cardinality is bigram-TYPE
    * bounded (≤ vocab²), never corpus-sized.
    */
  private def knModel(t: Tables): DataFrame = {
    val types = t.documents
      .select(explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      .select(col("bigram"),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"),
        col("c12"))
      .localCheckpoint(true)
    val left = types.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_w1"))
    val right = types.groupBy(col("w2")).agg(count(lit(1)).as("n1p_w2"))
    val total = types.agg(count(lit(1)).as("t_types"))
    types
      .join(left, "w1")
      .join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("w1"), col("w2"), col("c12"),
        (expr("(1000000 * (4 * c12 - 3)) div (4 * c1)") +
          expr("(3 * n1p_w1 * ((1000000 * n1p_w2) div t_types)) div (4 * c1)"))
          .as("pkn_fx"))
  }

  def txKnBigram(t: Tables): DataFrame =
    knModel(t)
      .orderBy(col("c12").desc, col("w1"), col("w2")).limit(20)
      .select(col("w1"), col("w2"), col("c12"), col("pkn_fx"))

  val txKnBigramSql: String =
    """WITH toks AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1]))) AS bigram
      |  FROM toks),
      |types AS (
      |  SELECT split_part(bigram, ' ', 1) AS w1,
      |    split_part(bigram, ' ', 2) AS w2, count(*) AS c12
      |  FROM bg GROUP BY bigram),
      |lft AS (
      |  SELECT w1, sum(c12) AS c1, count(*) AS n1p_w1 FROM types GROUP BY 1),
      |rgt AS (SELECT w2, count(*) AS n1p_w2 FROM types GROUP BY 1),
      |tot AS (SELECT count(*) AS t_types FROM types),
      |top AS (
      |  SELECT w1, w2, c12 FROM types
      |  ORDER BY c12 DESC, w1, w2 LIMIT 20)
      |SELECT top.w1, top.w2, top.c12,
      |  CAST((1000000 * (4 * top.c12 - 3)) // (4 * lft.c1)
      |    + (3 * lft.n1p_w1 * ((1000000 * rgt.n1p_w2) // tot.t_types))
      |      // (4 * lft.c1) AS BIGINT) AS pkn_fx
      |FROM top JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot""".stripMargin

  /** G38: per-document KN cross-entropy — mean negative log G37
    * probability over the document's bigram instances, in ×10⁴
    * nats. THE classic perplexity filter (a KenLM-style score):
    * docs whose bigrams the corpus model finds surprising are
    * boilerplate, mojibake, or off-distribution — G11/G12 score
    * with MLE, this scores with the smoothed model that serves.
    * Determinism: each instance's nats round to an integer FIRST
    * (−ln of the same ×10⁶ integer probability — identical parse
    * tree both engines), then the per-doc mean is integer floor
    * division of the order-independent sum (the M11 lesson);
    * negation keeps every division operand positive so Spark `div`
    * (truncate) and DuckDB `//` (floor) cannot disagree.
    *
    * Scale shape: the model build is G37's (one corpus exchange,
    * checkpointed, type-bounded); the scoring pass is the (doc,
    * bigram) instance stream joined to the model on the bigram key
    * (broadcast when the vocab is small, shuffle-keyed otherwise —
    * AQE picks) and ONE map-side-combined per-doc agg.
    */
  def txKnLogprob(t: Tables): DataFrame = {
    val inst = t.documents.select(col("doc_id"),
      explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
    inst.join(knModel(t).select(col("bigram"), col("pkn_fx")), "bigram")
      .select(col("doc_id"),
        expr("CAST(round(-ln(pkn_fx / 1000000.0) * 10000) AS BIGINT)").as("neg_fx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("neg_fx")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s div n_bigrams").as("nll_fx"))
  }

  val txKnLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1]))) AS bigram
      |  FROM toks),
      |types AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY 1),
      |t2 AS (
      |  SELECT bigram, split_part(bigram, ' ', 1) AS w1,
      |    split_part(bigram, ' ', 2) AS w2, c12
      |  FROM types),
      |lft AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p_w1 FROM t2 GROUP BY 1),
      |rgt AS (SELECT w2, count(*) AS n1p_w2 FROM t2 GROUP BY 1),
      |tot AS (SELECT count(*) AS t_types FROM t2),
      |model AS (
      |  SELECT bigram,
      |    CAST((1000000 * (4 * c12 - 3)) // (4 * c1)
      |      + (3 * n1p_w1 * ((1000000 * n1p_w2) // tot.t_types))
      |        // (4 * c1) AS BIGINT) AS pkn_fx
      |  FROM t2 JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CAST(round(-ln(pkn_fx / 1000000.0) * 10000) AS BIGINT))
      |    // count(*) AS BIGINT) AS nll_fx
      |FROM bg JOIN model USING (bigram)
      |GROUP BY 1""".stripMargin
}
