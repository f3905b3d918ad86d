package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 34: hashing-trick featurization and
  * graph link prediction.
  */
object Pipeline39 {

  /** G40: hashing-trick featurization (Weinberger et al.) — each
    * document's token bag folded into a fixed 64-dim signed-count
    * vector via the cross-engine polynomial hash (E27's chain):
    * dim = h mod 64, sign = parity of the next hash bit, weight =
    * Σ sign per (doc, dim). The featurizer that needs NO vocabulary
    * pass — the standard way to get bounded-width ML features out
    * of unbounded text at corpus scale — emitted in exploded
    * (doc_id, dim, w) form so the oracle compares exact integers.
    *
    * Scale shape: map-side token hashing at scan speed; the single
    * exchange is the (doc, dim)-keyed map-side-combined sum, output
    * width ≤ 64 rows per document by construction.
    */
  def txFeatureHashing(t: Tables): DataFrame = {
    val hashExpr =
      """(aggregate(transform(split(tok, ''), c -> CAST(ascii(c) AS BIGINT)),
        |  CAST(7 AS BIGINT), (acc, c) -> (acc * 31 + c) % 1000000007)
        |  * 2654435761 + 1013904223) % 1000000007""".stripMargin
    t.documents
      .select(col("doc_id"),
        explode(expr("filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')"))
          .as("tok"))
      .select(col("doc_id"), expr(hashExpr).as("h"))
      .select(col("doc_id"), expr("h % 64").as("dim"),
        expr("CASE WHEN (h div 64) % 2 = 0 THEN 1 ELSE -1 END").as("sign"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sign")).as("w"))
  }

  val txFeatureHashingSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\s+'), x -> x != '')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    (list_reduce(
      |       list_prepend(CAST(7 AS BIGINT),
      |         list_transform(split(tok, ''), c -> CAST(ord(c) AS BIGINT))),
      |       (acc, c) -> (acc * 31 + c) % 1000000007)
      |     * 2654435761 + 1013904223) % 1000000007 AS h
      |  FROM toks)
      |SELECT doc_id, h % 64 AS dim,
      |  CAST(sum(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
      |FROM h GROUP BY 1, 2""".stripMargin

  /** D97: common-neighbor link prediction over the part co-purchase
    * graph (the D46/D70 edge set: parts co-ordered, weight ≥ 2) —
    * the top 20 NON-adjacent pairs ranked by shared neighbors, with
    * the Jaccard-of-neighborhoods score: the "you may also like" /
    * graph-completion primitive beside D44 (importance), D70
    * (communities), D46 (cohesion).
    *
    * Scale shape: wedges (two edges through a shared center) are
    * generated only through NON-HUB centers (degree ≤ 50 — the
    * doc-freq-cap convention from E4/E16: a hub center contributes
    * deg² candidate pairs and mostly noise); candidate width is
    * therefore cap²-bounded per center, never all-pairs. Jaccard
    * denominators use FULL degrees, the candidate anti-joins the
    * edge set on its own key, and the final top-20 is TakeOrdered.
    * Exact integers end to end.
    */
  def qLinkPrediction(t: Tables): DataFrame = {
    // Shared session-materialized edge set (GraphBase convention);
    // already checkpointed there.
    val edges = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    val adj = edges.select(col("u").as("node"), col("v").as("nbr"))
      .unionAll(edges.select(col("v").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val centers = adj.join(deg.filter(col("deg") <= 50), Seq("node"))
      .select(col("node").as("center"), col("nbr"))
    val wedges = centers.as("x")
      .join(centers.as("y"),
        col("x.center") === col("y.center") && col("x.nbr") < col("y.nbr"))
      .groupBy(col("x.nbr").as("pa"), col("y.nbr").as("pb"))
      .agg(count(lit(1)).as("cn"))
    val cand = wedges.join(edges,
        col("pa") === col("u") && col("pb") === col("v"), "left_anti")
      .join(deg.select(col("node").as("pa"), col("deg").as("dega")), Seq("pa"))
      .join(deg.select(col("node").as("pb"), col("deg").as("degb")), Seq("pb"))
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("cn"),
        expr("(cn * 1000000) div (dega + degb - cn)").as("jaccard_ppm"))
    cand.orderBy(col("cn").desc, col("part_a").asc, col("part_b").asc).limit(20)
  }

  val qLinkPredictionSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (
      |  SELECT u AS node, v AS nbr FROM e
      |  UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
      |ctr AS (
      |  SELECT a.node AS center, a.nbr
      |  FROM adj a JOIN deg d ON d.node = a.node AND d.deg <= 50),
      |wedge AS (
      |  SELECT x.nbr AS pa, y.nbr AS pb, count(*) AS cn
      |  FROM ctr x JOIN ctr y ON y.center = x.center AND x.nbr < y.nbr
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT w.pa, w.pb, w.cn, da.deg AS dega, db.deg AS degb
      |  FROM wedge w
      |  LEFT JOIN e ON e.u = w.pa AND e.v = w.pb
      |  JOIN deg da ON da.node = w.pa
      |  JOIN deg db ON db.node = w.pb
      |  WHERE e.u IS NULL)
      |SELECT pa AS part_a, pb AS part_b, cn,
      |  CAST((cn * 1000000) // (dega + degb - cn) AS BIGINT) AS jaccard_ppm
      |FROM cand
      |ORDER BY cn DESC, part_a, part_b LIMIT 20""".stripMargin
}
