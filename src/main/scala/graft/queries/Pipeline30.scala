package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 30: cell-local mutual-kNN graph
  * construction and similarity-ranked hard-negative mining — the two
  * embedding-graph steps between ANN retrieval (F1-F4) and
  * graph-based curation (E6 CC, E11 SemDeDup).
  */
object Pipeline30 {

  /** F12: mutual k-NN graph, cell-local — within each label cell
    * (the F3/F4 IVF coarse-cell convention), every vector's exact
    * cosine top-5 neighbors are computed and an undirected edge
    * (id_a < id_b) is kept iff EACH endpoint ranks in the other's
    * top-5. The mutual filter is the standard symmetrization that
    * turns a noisy directed kNN list into the graph SemDeDup-style
    * curation clusters over (a hub vector appears in thousands of
    * directed lists; mutuality keeps only genuinely close pairs).
    *
    * Scale shape: all pairwise work is BLOCKED by the coarse cell —
    * one label-keyed exchange per side, Σ cell² comparisons, never
    * corpus² (the E11/F4 blocking convention; the global escape is
    * the F4 multi-probe assignment feeding this same per-cell
    * build). Per-vector ranking is a (cell-bounded) window on the
    * source id, and the mutuality check is one equi-join of the
    * directed edge list with itself on the reversed key — edge-sized,
    * k-bounded (≤ k·N rows). Ranks order on the ROUNDED 4-dp score
    * with id tie-breaks, so the graph is bit-stable across engines
    * and partitionings.
    */
  def simKnnMutual(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding"), col("label"))
    val scored = e.as("a")
      .join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.label").as("label"),
        col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(Similarity.cosine(col("a.embedding"), col("b.embedding")), 4)
          .as("score"))
    val w = Window.partitionBy(col("src")).orderBy(col("score").desc, col("dst"))
    val knn = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("label"), col("src"), col("dst"), col("score"))
    knn.as("k1")
      .join(knn.as("k2"),
        col("k1.src") === col("k2.dst") && col("k1.dst") === col("k2.src"))
      .filter(col("k1.src") < col("k1.dst"))
      .select(col("k1.label").as("label"),
        col("k1.src").as("id_a"), col("k1.dst").as("id_b"),
        col("k1.score").as("cosine"))
  }

  val simKnnMutualSql: String =
    """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      |scored AS (
      |  SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
      |    round(
      |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |      4) AS score
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id),
      |knn AS (
      |  SELECT label, src, dst, score FROM (
      |    SELECT label, src, dst, score,
      |      row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rnk
      |    FROM scored) x
      |  WHERE rnk <= 5)
      |SELECT k1.label, k1.src AS id_a, k1.dst AS id_b, k1.score + 0 AS cosine
      |FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
      |WHERE k1.src < k1.dst""".stripMargin

  /** F13: similarity-ranked hard-negative mining — for each of the
    * ten query vectors (the F1 query convention), the top-3
    * most-similar vectors carrying a DIFFERENT label: exactly the
    * "hard negatives" a contrastive fine-tune mines (random
    * negatives, per [[Pipeline28.smNegativePairs]], are too easy to
    * teach a margin; the highest-cosine cross-class items are where
    * the loss signal lives). Output carries both labels so the
    * downstream trainer can audit the class mix of its negative
    * pool.
    *
    * Scale shape: the query side is tiny and broadcast (F1's plan);
    * the corpus side streams map-only through the codegen'd cosine;
    * ranking is a per-query window over the broadcast-join output —
    * at crawl scale the corpus pass composes with the F2/F4
    * candidate generators exactly as F1 does, mining hard negatives
    * inside the probed lists only. Ranks order on the ROUNDED score
    * with id ties — deterministic across engines.
    */
  def simHardNegatives(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("embedding"), col("label"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("query_label"))
    val scored = e
      .join(broadcast(q), col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        round(Similarity.cosine(col("embedding"), col("qv")), 4).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neg_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neg_id"),
        col("query_label"), col("neg_label"), col("cosine"))
  }

  val simHardNegativesSql: String =
    """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qv, label AS query_label
      |      FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, q.query_label, e.vec_id AS neg_id,
      |    e.label AS neg_label,
      |    round(
      |      list_sum(list_transform(list_zip(e.embedding, q.qv),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |      4) AS cosine
      |  FROM e, q WHERE e.label != q.query_label)
      |SELECT query_id, rank, neg_id, query_label, neg_label, cosine + 0 AS cosine
      |FROM (
      |  SELECT query_id, query_label, neg_id, neg_label, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neg_id) AS BIGINT) AS rank
      |  FROM scored) x
      |WHERE rank <= 3""".stripMargin
}
