package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 32: k-core graph peeling and the exact
  * fixed-point embedding covariance matrix.
  */
object Pipeline32 {

  private def coPurchaseUndirected(t: Tables): DataFrame = {
    // Shared session-materialized edge set (GraphBase convention).
    val ef = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    ef.union(ef.select(col("v").as("u"), col("u").as("v")))
  }

  /** D85: 2-core peeling, three rounds — iteratively drop nodes of
    * degree < 2 (and their edges) from the part co-purchase graph,
    * emitting each survivor's degree after round 3. The
    * densest-region filter of the graph layer (D83 asks "how close",
    * D84 "how cheap", this asks "is the node embedded in structure
    * or dangling off it"): a link-graph trust pass keeps the 2-core
    * to shed pendant chains before spending PageRank/community
    * iterations on them. Three fixed rounds keep the query
    * SQL-oracle-able (the D44/D70 fixed-iteration convention); the
    * library fixpoint is [[graft.operators.Graph.kCore]], sharing the
    * identical round body (`Graph.peelOnce`), spec-pinned to the
    * bounded form wherever the bound reaches convergence.
    *
    * Scale shape: each round is one map-side-combined degree agg +
    * two node-keyed semi-join-shaped filters over a monotonically
    * shrinking edge list — O(edges) per round, never edge×edge;
    * exact long degrees ⇒ partitioning-invariant.
    */
  def qKcore(t: Tables): DataFrame = {
    var und = coPurchaseUndirected(t).localCheckpoint(true)
    // checkpoint per round (the Graph.kCore loop shape): without it,
    // each round's TWO references to the prior edge set double the
    // plan tree — 53 captured exchanges vs 3, and re-computed degree
    // subtrees at runtime.
    for (_ <- 1 to 3) und = Graph.peelOnce(und, k = 2).localCheckpoint(true)
    und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }

  val qKcoreSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ec AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |e0 AS (SELECT u, v FROM ec WHERE w >= 2),
      |e1 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |d1 AS (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 2),
      |p1 AS (SELECT e.u, e.v FROM e1 e
      |       JOIN d1 a ON e.u = a.u JOIN d1 b ON e.v = b.u),
      |d2 AS (SELECT u FROM p1 GROUP BY u HAVING count(*) >= 2),
      |p2 AS (SELECT e.u, e.v FROM p1 e
      |       JOIN d2 a ON e.u = a.u JOIN d2 b ON e.v = b.u),
      |d3 AS (SELECT u FROM p2 GROUP BY u HAVING count(*) >= 2),
      |p3 AS (SELECT e.u, e.v FROM p2 e
      |       JOIN d3 a ON e.u = a.u JOIN d3 b ON e.v = b.u)
      |SELECT u AS node, count(*) AS deg FROM p3 GROUP BY 1""".stripMargin

  /** F15: exact embedding covariance matrix (upper triangle) in ×10⁶
    * fixed point — population covariance cov(i,j) for every dim pair,
    * the input statistic of embedding WHITENING (ZCA/PCA): SemDeDup
    * and ANN pipelines whiten so cosine treats every direction
    * equally, and drift monitoring diffs this matrix release over
    * release. cov_fx = n·Σ(fxᵢ·fxⱼ) − Σfxᵢ·Σfxⱼ is exact integer
    * math end-to-end (DECIMAL(38,0) combine over long partials), so
    * the matrix is bit-deterministic under any partitioning — the
    * property the [[graft.operators.Whitening]] eigensolver needs to
    * be reproducible across runs.
    *
    * Scale shape: NO self-join anywhere — the round-9 shared
    * fixed-point Gram kernel ([[graft.operators.Whitening.
    * fixedPointGram]], the MLlib RowMatrix Gramian shape): LONG
    * accumulation per partition (overflow-checked), exact BigInt
    * tree-combine, d²-bounded state everywhere, NO exchange at all —
    * replacing the explode-into-d²-key-aggregate formulation (2.55 s
    * steady at sf0.1 → 0.5 s; same exact integers, the 2 080-cell
    * output assembled driver-side like k-means centroids). The
    * oracle states the naive per-row pair join; the plans differ,
    * the algebra is identical BIT FOR BIT (n·Σfxᵢfxⱼ − Σfxᵢ·Σfxⱼ
    * over exact integers in both).
    */
  def simCovMatrix(t: Tables): DataFrame = {
    val dim = 64
    val (n0, sxB, sxyB) =
      graft.operators.Whitening.fixedPointGram(t.embeddings, "embedding", dim)
    val nD = n0.toDouble
    import t.spark.implicits._
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield {
      val c = (i * (2 * dim - i + 1)) / 2 + (j - i)
      val covFx = n0 * sxyB(c) - sxB(i) * sxB(j)
      // cov_fx travels as an exact integer STRING: the driver hash is
      // type-sensitive and supports no 128-bit integer/decimal type,
      // and BigInt/hugeint stringify identically. The 6-dp double
      // rounds HALF_UP (Spark `round` semantics) and normalizes -0.0.
      val cov = BigDecimal(covFx.toDouble / (nD * nD * 1e12))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      (i.toLong, j.toLong, covFx.toString, cov)
    }
    rows.toDF("i", "j", "cov_fx", "cov")
  }

  val simCovMatrixSql: String =
    """WITH fx AS (
      |  SELECT vec_id, r.range AS i,
      |    CAST(round(CAST(embedding[CAST(r.range + 1 AS INT)] AS DOUBLE)
      |        * 1000000.0, 0) AS BIGINT) AS fx
      |  FROM embeddings CROSS JOIN range(64) r),
      |pairs AS (
      |  SELECT a.i, b.i AS j, sum(a.fx * b.fx) AS sxy, count(*) AS n
      |  FROM fx a JOIN fx b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2),
      |sums AS (SELECT i, sum(fx) AS s FROM fx GROUP BY 1)
      |SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j,
      |  CAST(CAST(p.n AS HUGEINT) * p.sxy
      |       - CAST(sa.s AS HUGEINT) * sb.s AS VARCHAR) AS cov_fx,
      |  round(CAST(CAST(p.n AS HUGEINT) * p.sxy
      |             - CAST(sa.s AS HUGEINT) * sb.s AS DOUBLE)
      |        / (CAST(p.n AS DOUBLE) * CAST(p.n AS DOUBLE) * 1e12), 6) + 0 AS cov
      |FROM pairs p
      |JOIN sums sa ON sa.i = p.i
      |JOIN sums sb ON sb.i = p.j""".stripMargin
}
