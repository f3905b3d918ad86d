package graft.queries

import graft.Tables
import graft.functions.JaroWinkler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 14: fuzzy-name ER via native
  * Jaro-Winkler, Zipf-law fit, hapax ratio, interval merging, modal
  * category, and the split-independence χ² audit.
  */
object Pipeline17 {

  /** E25: fuzzy-name entity resolution via the native Jaro-Winkler
    * codegen scalar ([[graft.functions.JaroWinkler]]) — candidate
    * pairs blocked on (first name token, brand), scored in
    * whole-stage codegen, kept at round(sim,4) ≥ 0.88: the
    * supplier/vendor-name matcher of the ER family, complementing
    * E7's edit-distance and E16's shingle containment with the
    * transposition-tolerant comparator record-linkage actually uses.
    *
    * Scale shape: pairs exist only WITHIN a (token, brand) block —
    * one block-key exchange each side, no cartesian (PlanGuard
    * class) — and the comparator runs inside codegen (no UDF
    * boxing). Blocking on a low-cardinality key alone would go
    * quadratic at corpus scale; the brand cross-cut keeps blocks
    * bounded, and the library escape for crawl-scale name tables is
    * E22's compacted blocked ER (distinct-name compaction first —
    * names repeat heavily in the wild — then this comparator).
    * Threshold compares the ROUNDED score on both sides, so the
    * keep-set is ULP-robust.
    */
  def ddJaroWinkler(t: Tables): DataFrame = {
    val p = t.part.select(col("p_partkey"), col("p_name"), col("p_brand"),
      split(col("p_name"), " ").getItem(0).as("tok0"))
    val a = p.select(col("tok0"), col("p_brand"),
      col("p_partkey").as("key_a"), col("p_name").as("name_a"))
    val b = p.select(col("tok0"), col("p_brand"),
      col("p_partkey").as("key_b"), col("p_name").as("name_b"))
    a.join(b, Seq("tok0", "p_brand"))
      .filter(col("key_a") < col("key_b"))
      .withColumn("sim", round(JaroWinkler(col("name_a"), col("name_b")), 4))
      .filter(col("sim") >= 0.88)
      .select(col("key_a"), col("key_b"), col("sim"))
  }

  val ddJaroWinklerSql: String =
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      |  round(jaro_winkler_similarity(a.p_name, b.p_name), 4) + 0 AS sim
      |FROM part a JOIN part b
      |  ON string_split(a.p_name, ' ')[1] = string_split(b.p_name, ' ')[1]
      | AND a.p_brand = b.p_brand
      | AND a.p_partkey < b.p_partkey
      |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.88""".stripMargin

  /** G30: Zipf-law fit per source — OLS slope of log₁₀(freq) on
    * log₁₀(rank) over the source's token frequency table (the
    * corpus-health diagnostic: natural text sits near −1; template
    * or spam pools flatten or cliff).
    *
    * Scale shape: the corpus collapses to (source, token, cnt) via
    * one map-side-combining aggregate; ranking runs PARTITIONED by
    * source on that vocab-bounded table (vocab ≪ tokens, sub-linear
    * in corpus size), and the regr_* moment sketches reduce each
    * source to constant state. No global window, no second corpus
    * pass.
    */
  def txZipfSlope(t: Tables): DataFrame = {
    val freqs = t.documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("tok"))
    freqs
      .withColumn("rank", row_number().over(w))
      .groupBy(col("source"))
      .agg(
        round(regr_slope(log(10.0, col("cnt")), log(10.0, col("rank"))), 4)
          .as("zipf_slope"),
        round(regr_r2(log(10.0, col("cnt")), log(10.0, col("rank"))), 4)
          .as("r2"),
        count(lit(1)).as("n_vocab"))
  }

  val txZipfSlopeSql: String =
    """WITH f AS (
      |  SELECT source, tok, count(*) AS cnt
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
      |        FROM documents) x
      |  WHERE len(tok) > 0
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT source, cnt,
      |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rank
      |  FROM f)
      |SELECT source,
      |  round(regr_slope(log10(cnt), log10(rank)), 4) + 0 AS zipf_slope,
      |  round(regr_r2(log10(cnt), log10(rank)), 4) + 0 AS r2,
      |  count(*) AS n_vocab
      |FROM r GROUP BY source""".stripMargin

  /** G31: hapax-legomena ratio per source — the share of the vocab
    * seen exactly once (exact ×10⁶ integer), plus vocab and token
    * totals: the OOV-pressure / tokenizer-stress indicator next to
    * G6's sketched vocab size. Same compaction as G30, then a
    * source-bounded rollup — integer math end to end.
    */
  def txHapaxRatio(t: Tables): DataFrame =
    t.documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_vocab"),
        sum(col("cnt")).as("n_tokens"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_vocab"), col("n_tokens"), col("n_hapax"),
        expr("CAST(n_hapax * 1000000 div n_vocab AS BIGINT)").as("hapax_fx"))

  val txHapaxRatioSql: String =
    """WITH f AS (
      |  SELECT source, tok, count(*) AS cnt
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
      |        FROM documents) x
      |  WHERE len(tok) > 0
      |  GROUP BY 1, 2)
      |SELECT source, count(*) AS n_vocab,
      |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000000
      |       // count(*) AS BIGINT) AS hapax_fx
      |FROM f GROUP BY source""".stripMargin

  /** D60: interval union (merge overlapping spans) per user — each
    * event opens a 300 s activity interval; touching/overlapping
    * intervals merge into islands, reported per user as island
    * count, exact covered seconds, and longest island (the
    * uptime/coverage primitive behind billing meters and
    * availability SLAs; D6's sessionize is the gap>τ special case
    * of this general span union).
    *
    * Scale shape: one user-key exchange; the running max of
    * interval ends and the island numbering are per-user ROWS
    * windows (each trajectory sorts within its partition); island
    * rollup is map-side-combining. All arithmetic on epoch-second
    * longs.
    */
  def qIntervalMerge(t: Tables): DataFrame = {
    val iv = t.events.select(
      col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + 300L * 1000000L).as("e"),
      col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("event_id"))
    val prevMaxE = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val marked = iv
      .withColumn("new_island",
        when(prevMaxE.isNull || col("s") > prevMaxE, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    marked.groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("is_start"), max(col("e")).as("is_end"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_intervals"),
        // SQL `div` (IntegralDivide): double `/` would round-trip
        // micro sums through a 2^53 mantissa at corpus scale
        expr("sum(is_end - is_start) div 1000000").as("covered_s"),
        expr("max(is_end - is_start) div 1000000").as("longest_s"))
  }

  val qIntervalMergeSql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e,
      |    event_id
      |  FROM events),
      |m AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           IS NULL
      |      OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 0 END AS new_island
      |  FROM iv),
      |i AS (
      |  SELECT user_id, s, e,
      |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
      |                          ROWS UNBOUNDED PRECEDING) AS island
      |  FROM m),
      |g AS (
      |  SELECT user_id, island, min(s) AS is_start, max(e) AS is_end
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_intervals,
      |  CAST(sum(is_end - is_start) // 1000000 AS BIGINT) AS covered_s,
      |  CAST(max(is_end - is_start) // 1000000 AS BIGINT) AS longest_s
      |FROM g GROUP BY user_id""".stripMargin

  /** D61: modal category per user — the most frequent event type
    * with its count, ties broken alphabetically (deterministic
    * MODE() with a pinned tie rule, which engine-native mode()
    * implementations leave unspecified).
    *
    * Scale shape: exact compaction to (user, type) counts first
    * (map-side combine), then the argmax window runs on the
    * user×vocab-bounded table — never on raw events.
    */
  def qMode(t: Tables): DataFrame = {
    val counts = t.events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("cnt").desc, col("event_type"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"),
        col("cnt").as("mode_n"))
  }

  val qModeSql: String =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT user_id, event_type, cnt,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY cnt DESC, event_type) AS rn
      |  FROM c)
      |SELECT user_id, event_type AS mode_type, CAST(cnt AS BIGINT) AS mode_n
      |FROM r WHERE rn = 1""".stripMargin

  /** N17: split-independence χ² audit — the contingency table of
    * N1's hash split against the document source, each cell with
    * its expected count under independence and χ² contribution:
    * the release gate proving the train/val/test assignment is
    * unbiased w.r.t. provenance (a correlated split silently
    * shifts the eval distribution).
    *
    * Scale shape: one corpus-sized aggregate to the (split, source)
    * contingency (split fan = 3, sources bounded); marginals are
    * PARTITIONED windows on that bounded table; the grand total is
    * a 1-row broadcast. Expected/χ² are derived from the same
    * integer counts on both sides, 4 dp.
    */
  def smSplitChi2(t: Tables): DataFrame = {
    val cells = t.documents
      .withColumn("split",
        graft.operators.Sampling.splitAssign(col("doc_id"), 80, 10))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n"))
    val rowW = Window.partitionBy(col("split"))
    val colW = Window.partitionBy(col("source"))
    val tot = cells.agg(sum(col("n")).as("tot"))
    cells
      .withColumn("split_tot", sum(col("n")).over(rowW))
      .withColumn("source_tot", sum(col("n")).over(colW))
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        round(col("split_tot") * col("source_tot") / col("tot").cast("double"), 4))
      .select(col("split"), col("source"), col("n"), col("expected"),
        round(pow(col("n") - col("expected"), 2) / col("expected"), 4)
          .as("chi2_term"))
  }

  val smSplitChi2Sql: String =
    """WITH s AS (
      |  SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
      |              ELSE 'test' END AS split,
      |         source
      |  FROM (SELECT source,
      |          (((doc_id % 1000000007) * 2654435761 + 1013904223)
      |            % 1000000007) % 100 AS b
      |        FROM documents) x),
      |c AS (SELECT split, source, count(*) AS n FROM s GROUP BY 1, 2),
      |m AS (
      |  SELECT split, source, n,
      |    sum(n) OVER (PARTITION BY split) AS split_tot,
      |    sum(n) OVER (PARTITION BY source) AS source_tot,
      |    sum(n) OVER () AS tot
      |  FROM c),
      |e AS (
      |  SELECT split, source, n,
      |    round(split_tot * source_tot / CAST(tot AS DOUBLE), 4) + 0 AS expected
      |  FROM m)
      |SELECT split, source, CAST(n AS BIGINT) AS n, expected,
      |  round(pow(n - expected, 2) / expected, 4) + 0 AS chi2_term
      |FROM e""".stripMargin
}
