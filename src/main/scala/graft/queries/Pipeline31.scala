package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 31: bounded weighted shortest paths and
  * exact closed-form cell medoids.
  */
object Pipeline31 {

  /** D84: bounded weighted shortest path — minimum total traversal
    * cost within ≤ 3 edges from the smallest-id node of the part
    * co-purchase graph, via [[graft.operators.Graph.ssspBounded]].
    * Edge cost = 1000 div w (strong co-purchase ties are cheap to
    * traverse), so the result is the affinity-weighted counterpart
    * of D83's hop counts: a 2-edge path through strong ties can beat
    * a direct weak edge, which is exactly what hop-BFS cannot see.
    *
    * Scale shape: co-purchase build as D70/D83; each Bellman-Ford
    * round is one node-keyed hash join + one map-side-combined min
    * groupBy against the checkpointed dist table — never edge×edge;
    * integer costs end-to-end ⇒ partitioning-invariant exact longs.
    */
  def qSsspWeighted(t: Tables): DataFrame = {
    // Shared session-materialized edge set (GraphBase convention);
    // already checkpointed there.
    val edges = GraphBase.coPurchasePairs(t)
      .select(col("u"), col("v"),
        expr("CAST(1000 AS BIGINT) div w").as("ecost"))
    val seed = edges.agg(least(min(col("u")), min(col("v"))).as("node"))
    Graph.ssspBounded(edges, "u", "v", "ecost", seed, maxHops = 3)
  }

  val qSsspWeightedSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ef AS (SELECT u, v, 1000 // w AS ecost FROM e0 WHERE w >= 2),
      |e AS (SELECT u, v, ecost FROM ef
      |      UNION ALL SELECT v AS u, u AS v, ecost FROM ef),
      |s AS (SELECT least(min(u), min(v)) AS node FROM ef),
      |r(node, cost, hops) AS (
      |  SELECT node, CAST(0 AS BIGINT), 0 FROM s
      |  UNION ALL
      |  SELECT e.v, r.cost + e.ecost, r.hops + 1
      |  FROM r JOIN e ON e.u = r.node WHERE r.hops < 3)
      |SELECT node, CAST(min(cost) AS BIGINT) AS cost
      |FROM r GROUP BY 1""".stripMargin

  /** F14: exact per-cell medoid in closed form — for each label cell
    * (the F3/F4 IVF cell convention), the vector minimizing the sum
    * of squared Euclidean distances to every other member: the
    * GEOMETRIC cluster representative (an actual corpus item, unlike
    * F3's centroid, which is a synthetic mean no document embeds
    * to), the item SemDeDup keeps per semantic cluster when the
    * keep-rule is "most central member".
    *
    * The naive medoid is Σ cell² pairwise distances; this uses the
    * algebraic identity Σ_b ‖a−b‖² = n·‖a‖² + Σ_b ‖b‖² − 2·a·Σ_b b,
    * so one cell-sized aggregate (n, Σ‖b‖², the element-wise vector
    * sum) scores every member map-side — O(N·d) total, LINEAR where
    * the textbook algorithm is quadratic, and the winning plan at
    * any cell size. Embeddings are quantized to ×10⁶ fixed-point
    * longs FIRST (the F10 convention), so every moment and every
    * score is exact integer math — the argmin is bit-deterministic
    * under any partitioning or engine, with vec_id ties.
    *
    * Scale shape: one explode + label-keyed per-dim sum (the only
    * corpus-sized exchange), a broadcast of the k·d cell-moment
    * table back onto the exploded scan, one vec-keyed dot-product
    * agg, and a cell-bounded argmin window. No pairwise stage
    * exists at all.
    */
  def qMedoid(t: Tables): DataFrame = {
    val fx = t.embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("label"), col("i"),
        round(col("x").cast("double") * lit(1000000.0), 0).cast("long").as("fx"))
      .localCheckpoint(true)
    val perVec = fx.groupBy(col("vec_id"), col("label"))
      .agg(sum(col("fx") * col("fx")).as("sq"))
    val cellDim = fx.groupBy(col("label"), col("i"))
      .agg(sum(col("fx")).as("s_i"))
    val cell = perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("sq")).as("t_sq"))
    val dots = fx
      .join(broadcast(cellDim), Seq("label", "i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("fx") * col("s_i")).as("dot_s"))
    val scored = perVec
      .join(dots, Seq("vec_id", "label"))
      .join(broadcast(cell), Seq("label"))
      .select(col("label"), col("vec_id"),
        (col("n") * col("sq") + col("t_sq") - lit(2L) * col("dot_s"))
          .as("score_fx"),
        col("n"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("score_fx"), col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("label"), col("vec_id").as("medoid_id"), col("score_fx"),
        round(col("score_fx").cast("double") /
          (col("n").cast("double") * lit(1e12)), 4).as("msd"))
  }

  val qMedoidSql: String =
    """WITH fx AS (
      |  SELECT vec_id, label, r.range AS i,
      |    CAST(round(CAST(embedding[CAST(r.range + 1 AS INT)] AS DOUBLE)
      |        * 1000000.0, 0) AS BIGINT) AS fx
      |  FROM embeddings CROSS JOIN range(64) r),
      |per_vec AS (
      |  SELECT vec_id, label, sum(fx * fx) AS sq
      |  FROM fx GROUP BY 1, 2),
      |cell_dim AS (
      |  SELECT label, i, sum(fx) AS s_i FROM fx GROUP BY 1, 2),
      |cell AS (
      |  SELECT label, count(*) AS n, sum(sq) AS t_sq
      |  FROM per_vec GROUP BY 1),
      |dots AS (
      |  SELECT f.vec_id, f.label, sum(f.fx * cd.s_i) AS dot_s
      |  FROM fx f JOIN cell_dim cd ON f.label = cd.label AND f.i = cd.i
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT p.label, p.vec_id,
      |    CAST(c.n * p.sq + c.t_sq - 2 * d.dot_s AS BIGINT) AS score_fx,
      |    c.n AS n
      |  FROM per_vec p
      |  JOIN dots d ON d.vec_id = p.vec_id AND d.label = p.label
      |  JOIN cell c ON c.label = p.label)
      |SELECT label, vec_id AS medoid_id, score_fx,
      |  round(CAST(score_fx AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12), 4) + 0 AS msd
      |FROM (
      |  SELECT label, vec_id, score_fx, n,
      |    row_number() OVER (PARTITION BY label
      |      ORDER BY score_fx, vec_id) AS rnk
      |  FROM scored) x
      |WHERE rnk = 1""".stripMargin
}
