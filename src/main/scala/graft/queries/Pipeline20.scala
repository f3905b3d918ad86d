package graft.queries

import graft.Tables
import graft.functions.RollingHash
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 17: label-propagation communities,
  * n-gram novelty vs the corpus prefix, and a character-class
  * encoding audit. (The batch's streaming row, `st_topk_windowed`,
  * lives in [[StreamQueries]] with the other harness users.)
  */
object Pipeline20 {

  /** D70: label-propagation communities over the part co-purchase
    * graph (parts co-ordered ≥2 times; same graph as D46's
    * triangles) — deterministic synchronous LPA via
    * [[Graph.labelPropagation]], 3 iterations. Beside D44 PageRank
    * (importance) and E6 connected components (reachability), this
    * is the community-STRUCTURE capability: the frequency vote finds
    * dense regions inside a component.
    *
    * Scale shape: edge build is one equi-join + count filter (never
    * a cartesian); each LPA iteration is one edge→label hash join
    * plus two map-side-combined aggregates with constant per-node
    * argmax state (`min_by` over a (−count, label) struct — no
    * per-node sort); labels checkpoint each round so the plan depth
    * stays O(1). The oracle replays the identical recurrence as
    * three chained CTEs — integer counts and a total-order tie rule
    * make every iteration bit-identical across engines.
    */
  def qLabelProp(t: Tables): DataFrame = {
    // Shared session-materialized edge set (GraphBase convention).
    val edges = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    Graph.labelPropagation(edges, "u", "v", iters = 3)
      .select(col("node"), col("lbl").as("label"))
  }

  val qLabelPropSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ef AS (SELECT u, v FROM e0 WHERE w >= 2),
      |e AS (SELECT u, v FROM ef UNION SELECT v AS u, u AS v FROM ef),
      |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e),
      |v1 AS (SELECT e.u AS node, l.lbl, count(*) AS c
      |       FROM e JOIN l0 l ON e.v = l.node GROUP BY 1, 2),
      |l1 AS (SELECT node, lbl FROM (
      |         SELECT node, lbl, row_number() OVER (
      |           PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v1) x
      |       WHERE rn = 1),
      |v2 AS (SELECT e.u AS node, l.lbl, count(*) AS c
      |       FROM e JOIN l1 l ON e.v = l.node GROUP BY 1, 2),
      |l2 AS (SELECT node, lbl FROM (
      |         SELECT node, lbl, row_number() OVER (
      |           PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v2) x
      |       WHERE rn = 1),
      |v3 AS (SELECT e.u AS node, l.lbl, count(*) AS c
      |       FROM e JOIN l2 l ON e.v = l.node GROUP BY 1, 2),
      |l3 AS (SELECT node, lbl FROM (
      |         SELECT node, lbl, row_number() OVER (
      |           PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v3) x
      |       WHERE rn = 1)
      |SELECT node, lbl AS label FROM l3""".stripMargin

  /** G34: 5-gram novelty vs the corpus prefix — per document, the
    * share of its distinct 5-token shingles whose FIRST occurrence
    * (smallest doc_id) is the document itself. The
    * repeated-boilerplate / near-duplicate pressure signal a crawl
    * ingest ranks by: novelty ≈ 0 means the document is assembled
    * from text already seen earlier in the corpus (G21 measures
    * duplication against the whole corpus symmetrically; this is the
    * ORDERED, attribution-carrying variant).
    *
    * Scale shape: shingles are hashed to longs map-side (native
    * codegen [[RollingHash]] per position — the shuffled rows carry
    * 8-byte keys, never gram strings); one distinct over (doc, gram)
    * is the only corpus-sized exchange, checkpointed for its two
    * consumers; first-occurrence is a map-side-combined `min` per
    * gram; the rollup is per-doc bounded. Exact integer ×10⁶ share.
    */
  def txNgramNovelty(t: Tables): DataFrame = {
    // Native one-pass shingle hashing (graft.functions.ShingleHashes)
    // — the transform(sequence, i -> RollingHash(concat_ws(...)))
    // composition evaluates interpreted and allocates a shingle
    // string per position (measured 11.6 s vs 0.9 s at sf0.1);
    // <5-token docs yield an empty array, which explode drops.
    val grams = t.documents
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashes(col("text"), 5)).as("g"))
      .distinct()
      .localCheckpoint(true)
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("CAST((1000000 * n_novel) div n_grams AS BIGINT)")
          .as("novelty_fx"))
  }

  val txNgramNoveltySql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g0 AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
      |      i -> list_reduce(
      |             list_prepend(CAST(0 AS BIGINT),
      |               list_transform(
      |                 regexp_split_to_array(
      |                   concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]), ''),
      |                 c -> CAST(unicode(c) AS BIGINT))),
      |             (a, b) -> (a * 31 + b) % 1000000007))) AS g
      |  FROM t),
      |gr AS (SELECT DISTINCT doc_id, g FROM g0),
      |f AS (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY 1),
      |a AS (
      |  SELECT gr.doc_id, count(*) AS n_grams,
      |    CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_novel
      |  FROM gr JOIN f USING (g) GROUP BY 1)
      |SELECT doc_id, n_grams, n_novel,
      |  CAST((1000000 * n_novel) // n_grams AS BIGINT) AS novelty_fx
      |FROM a""".stripMargin

  /** G35: character-class profile per source — exact ×10⁶ shares of
    * digit / whitespace / punctuation-or-other characters plus the
    * count of documents carrying C0 control characters. The encoding
    * audit a crawl release gates on (mojibake, binary spill, and
    * template pools all move these shares) — G2 thresholds per-doc
    * quality; this is the per-SOURCE release view.
    *
    * Scale shape: all counting is map-side column math
    * (length-difference against character-class regex strips); one
    * source-bounded aggregate; shares emitted from exact long counts
    * by ×10⁶ floor division.
    */
  def txCharclassProfile(t: Tables): DataFrame = {
    val n     = length(col("text")).cast("long")
    val digit = (n - length(regexp_replace(col("text"), "[0-9]", "")))
    val space = (n - length(regexp_replace(col("text"), "[ \\t\\n\\r]", "")))
    // punct-or-other = what SURVIVES the alnum+space strip (not the
    // stripped count — that would be the complement).
    val punct = length(regexp_replace(col("text"), "[A-Za-z0-9 \\t\\n\\r]", ""))
      .cast("long")
    t.documents
      .select(col("source"), n.as("nc"), digit.as("nd"), space.as("ns"),
        punct.as("np"),
        // \x01 start (not \x00): a NUL inside a SQL string literal
        // would truncate the DuckDB twin's pattern — keep the two
        // regexes byte-identical instead.
        col("text").rlike("[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("has_ctrl"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("nd")).as("d"),
        sum(col("ns")).as("s"),
        sum(col("np")).as("p"),
        sum(when(col("has_ctrl"), 1L).otherwise(0L)).as("ctrl_docs"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        expr("CAST((1000000 * d) div n_chars AS BIGINT)").as("digit_fx"),
        expr("CAST((1000000 * s) div n_chars AS BIGINT)").as("space_fx"),
        expr("CAST((1000000 * p) div n_chars AS BIGINT)").as("punct_fx"),
        col("ctrl_docs"))
  }

  val txCharclassProfileSql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(length(text) AS BIGINT) AS nc,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
      |         AS BIGINT) AS nd,
      |    CAST(length(text)
      |         - length(regexp_replace(text, '[ \t\n\r]', '', 'g'))
      |         AS BIGINT) AS ns,
      |    CAST(length(regexp_replace(text, '[A-Za-z0-9 \t\n\r]', '', 'g'))
      |         AS BIGINT) AS np,
      |    regexp_matches(text, '[\x01-\x08\x0B\x0C\x0E-\x1F]') AS has_ctrl
      |  FROM documents)
      |SELECT source, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars,
      |  CAST((1000000 * sum(nd)) // sum(nc) AS BIGINT) AS digit_fx,
      |  CAST((1000000 * sum(ns)) // sum(nc) AS BIGINT) AS space_fx,
      |  CAST((1000000 * sum(np)) // sum(nc) AS BIGINT) AS punct_fx,
      |  CAST(sum(CASE WHEN has_ctrl THEN 1 ELSE 0 END) AS BIGINT) AS ctrl_docs
      |FROM d GROUP BY 1""".stripMargin
}
