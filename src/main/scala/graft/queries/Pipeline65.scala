package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 batch 67: spectral centrality and the degree-law tail —
  * eigenvector centrality by integer power iteration (the D44
  * PageRank's undamped spectral sibling, exposing [[Graph
  * .eigenCentrality]]) and the discrete power-law exponent MLE over
  * a degree distribution (the "is this graph scale-free, and how
  * heavy is the tail" diagnostic that decides whether hub-capping /
  * salting is needed before any self-join on it).
  */
object Pipeline65 {

  /** D135 `q_eigen_centrality`: eigenvector centrality of the
    * nation-level trade graph (customer nation → supplier nation,
    * weight = line count — the D44 edge build) after 4 max-
    * normalized power iterations in exact ×10⁹ fixed point. The
    * oracle replays the identical integer recurrence as chained
    * CTEs — `div` on both engines truncates the same way, so the
    * final vector is bit-identical.
    *
    * Scale shape: [[Graph.eigenCentrality]] — per iteration exactly
    * the rank join (on src) + contribution agg (on dst) a
    * distributed power iteration needs; the max-normalizer is a
    * 1-row broadcast folded in-plan.
    */
  def qEigenCentrality(t: Tables): DataFrame = {
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    Graph.eigenCentrality(edges, "src", "dst", "w", iters = 4)
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name"), col("r_fx").as("ec_fx"))
  }

  /** Chained-CTE replay of the integer recurrence (the D44 oracle
    * convention: DuckDB `//` and Spark `div` truncate identically
    * on the all-nonnegative operands here).
    */
  val qEigenCentralitySql: String = {
    def iter(prev: String, cur: String): String =
      s"""${cur}s AS (
         |  SELECT e.dst AS node, CAST(sum(r.r_fx * e.w) AS BIGINT) AS s_fx
         |  FROM e JOIN $prev r ON e.src = r.node GROUP BY 1),
         |${cur}d AS (SELECT max(s_fx) // 1000000000 + 1 AS d FROM ${cur}s),
         |$cur AS (
         |  SELECT nodes.node,
         |    CAST(coalesce(s.s_fx, 0) // d AS BIGINT) AS r_fx
         |  FROM nodes CROSS JOIN ${cur}d
         |  LEFT JOIN ${cur}s s ON nodes.node = s.node)""".stripMargin
    s"""WITH e AS (
       |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r_fx FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |${iter("r3", "r4")}
       |SELECT n_name, r_fx AS ec_fx
       |FROM r4 JOIN nation ON node = n_nationkey""".stripMargin
  }

  /** D136 `q_degree_powerlaw`: degree histogram (orders per
    * customer) plus the discrete power-law exponent MLE
    * α̂ = 1 + n / Σ ln(d / (x_min − ½)) at x_min = 1 (Clauset–
    * Shalizi–Newman's discrete approximation) and its standard
    * error (α̂−1)/√n — the tail diagnostic over the fan-out
    * distribution every skew-aware join plan starts from.
    *
    * Scale shape: one customer-keyed degree agg, one histogram agg
    * on the degree-bounded table, one 1-row MLE agg broadcast onto
    * the histogram rows.
    */
  def qDegreePowerlaw(t: Tables): DataFrame = {
    val deg = t.orders
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    val mle = deg.agg(
      count(lit(1)).as("n"),
      sum(log(col("d").cast("double") / lit(0.5))).as("slog"))
      .select(col("n"),
        round(lit(1.0) + col("n").cast("double") / col("slog"), 4).as("alpha"),
        round((col("n").cast("double") / col("slog"))
          / sqrt(col("n").cast("double")), 4).as("alpha_se"))
    hist.crossJoin(broadcast(mle))
      .select(col("d").as("degree"), col("cnt"), col("n"), col("alpha"), col("alpha_se"))
  }

  val qDegreePowerlawSql: String =
    """WITH deg AS (
      |  SELECT o_custkey, count(*) AS d FROM orders GROUP BY 1),
      |hist AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY 1),
      |mle AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    round(1.0 + count(*) / sum(ln(CAST(d AS DOUBLE) / 0.5)), 4) + 0 AS alpha,
      |    round((count(*) / sum(ln(CAST(d AS DOUBLE) / 0.5)))
      |      / sqrt(CAST(count(*) AS DOUBLE)), 4) + 0 AS alpha_se
      |  FROM deg)
      |SELECT d AS degree, cnt, n, alpha, alpha_se
      |FROM hist CROSS JOIN mle""".stripMargin
}
