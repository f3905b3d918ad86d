package graft.queries

import graft.Tables
import graft.operators.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 batch 70: Dunning log-likelihood-ratio collocations
  * (the significance-aware ranking PMI's sparse-count bias breaks
  * on — G25's twin with the 2×2 LLR instead of the ratio) and
  * grouped k-fold assignment (the fold split that keeps all of a
  * user's events together — the cross-validation analogue of N7's
  * leakage-safe split, where N13 kfold splits at row grain).
  */
object Pipeline68 {

  /** G46 `tx_colloc_llr`: top-20 bigram collocations by Dunning's
    * G² over the bigram-position 2×2 (k11 = c(w1 w2), margins =
    * bigrams starting w1 / ending w2, N = all bigram positions) —
    * x·ln x terms with the 0·ln 0 = 0 convention, every count an
    * exact long from one bigram scan. Ranking compares the
    * ×10⁴-quantized G² (then w1, w2) so order can't fork engines.
    *
    * Scale shape: one bigram-keyed count agg (checkpointed), two
    * vocabulary-bounded margin aggs joined back on their keys, a
    * TakeOrdered top-20 — never a global sort.
    */
  def txCollocLlr(t: Tables): DataFrame = {
    val bg = t.documents
      .select(explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
      .select(split(col("bigram"), " ").getItem(0).as("w1"),
        split(col("bigram"), " ").getItem(1).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("k11"))
      .localCheckpoint(true)
    val rowM = bg.groupBy(col("w1")).agg(sum(col("k11")).as("r1"))
    val colM = bg.groupBy(col("w2")).agg(sum(col("k11")).as("c1"))
    val tot = bg.agg(sum(col("k11")).as("nn"))
    def xlnx(c: org.apache.spark.sql.Column) =
      when(c > 0.0, c * log(c)).otherwise(lit(0.0))
    val scored = bg
      .join(rowM, "w1")
      .join(colM, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("k11"),
        col("k11").cast("double").as("a"),
        (col("r1") - col("k11")).cast("double").as("b"),
        (col("c1") - col("k11")).cast("double").as("c"),
        (col("nn") - col("r1") - col("c1") + col("k11")).cast("double").as("d"),
        col("r1").cast("double").as("r1d"),
        (col("nn") - col("r1")).cast("double").as("r2d"),
        col("c1").cast("double").as("c1d"),
        (col("nn") - col("c1")).cast("double").as("c2d"),
        col("nn").cast("double").as("nd"))
      .select(col("w1"), col("w2"), col("k11"),
        (lit(2.0) * (xlnx(col("a")) + xlnx(col("b")) + xlnx(col("c")) + xlnx(col("d"))
          - xlnx(col("r1d")) - xlnx(col("r2d")) - xlnx(col("c1d")) - xlnx(col("c2d"))
          + xlnx(col("nd")))).as("llr"))
      .select(col("w1"), col("w2"), col("k11"),
        expr("CAST(round(llr * 10000) AS BIGINT)").as("llr_fx"))
    scored.orderBy(col("llr_fx").desc, col("w1"), col("w2")).limit(20)
  }

  val txCollocLlrSql: String =
    """WITH toks AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
      |bg0 AS (
      |  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1]))) AS bigram
      |  FROM toks),
      |bg AS (
      |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2,
      |    count(*) AS k11
      |  FROM bg0 GROUP BY 1, 2),
      |rm AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS r1 FROM bg GROUP BY 1),
      |cm AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS c1 FROM bg GROUP BY 1),
      |t AS (SELECT CAST(sum(k11) AS BIGINT) AS nn FROM bg),
      |s AS (
      |  SELECT w1, w2, k11,
      |    CAST(k11 AS DOUBLE) AS a, CAST(r1 - k11 AS DOUBLE) AS b,
      |    CAST(c1 - k11 AS DOUBLE) AS c,
      |    CAST(nn - r1 - c1 + k11 AS DOUBLE) AS d,
      |    CAST(r1 AS DOUBLE) AS r1d, CAST(nn - r1 AS DOUBLE) AS r2d,
      |    CAST(c1 AS DOUBLE) AS c1d, CAST(nn - c1 AS DOUBLE) AS c2d,
      |    CAST(nn AS DOUBLE) AS nd
      |  FROM bg JOIN rm USING (w1) JOIN cm USING (w2) CROSS JOIN t),
      |g AS (
      |  SELECT w1, w2, CAST(k11 AS BIGINT) AS k11,
      |    CAST(round(2.0 * (
      |      (CASE WHEN a > 0 THEN a * ln(a) ELSE 0 END)
      |      + (CASE WHEN b > 0 THEN b * ln(b) ELSE 0 END)
      |      + (CASE WHEN c > 0 THEN c * ln(c) ELSE 0 END)
      |      + (CASE WHEN d > 0 THEN d * ln(d) ELSE 0 END)
      |      - (CASE WHEN r1d > 0 THEN r1d * ln(r1d) ELSE 0 END)
      |      - (CASE WHEN r2d > 0 THEN r2d * ln(r2d) ELSE 0 END)
      |      - (CASE WHEN c1d > 0 THEN c1d * ln(c1d) ELSE 0 END)
      |      - (CASE WHEN c2d > 0 THEN c2d * ln(c2d) ELSE 0 END)
      |      + (CASE WHEN nd > 0 THEN nd * ln(nd) ELSE 0 END)) * 10000)
      |      AS BIGINT) AS llr_fx
      |  FROM s)
      |SELECT w1, w2, k11, llr_fx FROM g
      |ORDER BY llr_fx DESC, w1, w2 LIMIT 20""".stripMargin

  /** N22 `sm_group_kfold`: grouped 5-fold assignment — the fold is
    * a deterministic splitmix-style function of the GROUP key
    * (user_id, the N1 mix), so every event of a user lands in one
    * fold by construction (no leakage across folds, the N7 concern
    * at fold grain). Emits per (fold, type) event counts with each
    * fold's user count — the balance sheet a grouped CV needs.
    *
    * Scale shape: map-only fold assignment; one (fold,type) agg +
    * one fold-keyed user agg joined on the 5-row fold key.
    */
  def smGroupKfold(t: Tables): DataFrame = {
    val tagged = t.events
      .select(Sampling.idBucket(col("user_id"), 5).as("fold"),
        col("event_type"), col("user_id"))
      .localCheckpoint(true)
    val byType = tagged.groupBy(col("fold"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val users = tagged.groupBy(col("fold"))
      .agg(countDistinct(col("user_id")).as("fold_users"))
    byType.join(broadcast(users), "fold")
      .select(col("fold"), col("event_type"), col("n_events"), col("fold_users"))
  }

  val smGroupKfoldSql: String =
    """WITH tagged AS (
      |  SELECT ((user_id % 1000000007) * 2654435761 + 1013904223)
      |           % 1000000007 % 5 AS fold,
      |    event_type, user_id
      |  FROM events),
      |bt AS (
      |  SELECT fold, event_type, count(*) AS n_events
      |  FROM tagged GROUP BY 1, 2),
      |u AS (
      |  SELECT fold, count(DISTINCT user_id) AS fold_users
      |  FROM tagged GROUP BY 1)
      |SELECT fold, event_type, CAST(n_events AS BIGINT) AS n_events,
      |  CAST(fold_users AS BIGINT) AS fold_users
      |FROM bt JOIN u USING (fold)""".stripMargin
}
