package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 6: iterative graph analytics (PageRank),
  * Johnson-Lindenstrauss random projection, and sliding mean-shift
  * change detection. Every entry is a SURVEY §2 row with a DuckDB
  * oracle; all cross-engine-fragile arithmetic is fixed-point longs.
  */
object Pipeline9 {

  /** D44: weighted PageRank over the nation trade graph (customer
    * nation → supplier nation, weight = lineitem count) — the
    * iterative-graph capability class (power iteration with damping
    * + dangling redistribution), previously covered only by the
    * non-iterative CC labeling (E6). Edge building is the corpus
    * phase (lineitem⋈orders⋈customer⋈supplier, dims broadcast);
    * the power iteration runs on the node-sized rank table with
    * integer fixed-point math, so the 5-iteration DuckDB CTE chain
    * reproduces every rank bit-for-bit (see [[Graph.pageRank]]).
    */
  def qPagerank(t: Tables): DataFrame = {
    val edges = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    Graph.pageRank(edges, "src", "dst", "w", iters = 5)
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("node") === col("n_nationkey"))
      .select(col("n_name"), col("r_fx"))
  }

  /** The oracle mirrors [[Graph.pageRank]]'s recurrence exactly:
    * DuckDB's `//` and Spark's `div` are both truncating on the
    * all-positive operands here, so five chained CTEs replay the
    * power iteration with identical longs.
    */
  val qPagerankSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT nodes.node,
         |    ((1000000000::BIGINT * 15 // 100) // n)
         |      + (85 * (coalesce(s.sum_fx, 0) + d.dang_fx // n)) // 100 AS r_fx
         |  FROM nodes CROSS JOIN nn
         |  CROSS JOIN (SELECT CAST(coalesce(sum(r_fx), 0) AS BIGINT) AS dang_fx
         |              FROM $prev
         |              WHERE node NOT IN (SELECT src FROM outw)) d
         |  LEFT JOIN (SELECT e.dst AS node,
         |               CAST(sum((r.r_fx * e.w) // o.out_w) AS BIGINT) AS sum_fx
         |             FROM e JOIN $prev r ON e.src = r.node
         |             JOIN outw o ON e.src = o.src GROUP BY 1) s
         |    ON nodes.node = s.node)""".stripMargin
    s"""WITH e AS (
       |  SELECT c_nationkey AS src, s_nationkey AS dst, count(*) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
       |r0 AS (SELECT node, (1000000000 // n) AS r_fx FROM nodes CROSS JOIN nn),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |${iter("r3", "r4")},
       |${iter("r4", "r5")}
       |SELECT n_name, r_fx FROM r5 JOIN nation ON node = n_nationkey""".stripMargin
  }

  private def rpSign(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
    graft.operators.Similarity.rpSign(i, j)

  /** F10: Johnson-Lindenstrauss random projection 64 → 8 dims via a
    * deterministic ±1 sign matrix (Achlioptas' database-friendly
    * projection) — the dimensionality-reduction front-end that makes
    * downstream ANN / clustering cheaper at 100 TB (distance
    * preservation is the JL guarantee; the spec measures the actual
    * distortion on real pairs). Per-element terms are quantized to
    * ×10⁶ longs BEFORE summation, so the projection is exact integer
    * math and hash-matches the oracle regardless of summation order.
    * The op is map-shaped (explode + re-group by row key is
    * partition-local under the same hash key); the library HOF form
    * in [[graft.operators.Similarity.randomProjectFx]] is the
    * single-pass scale path — spec pins the two equivalent.
    */
  def simRpProject(t: Tables): DataFrame = {
    val base = t.embeddings.filter(col("vec_id") < 20)
    val dims = t.spark.range(0, 8).select(col("id").as("dim"))
    base
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .join(broadcast(dims))
      .select(col("vec_id"), col("dim"),
        (round(col("x").cast("double") * lit(1000000.0), 0).cast("long")
          * rpSign(col("i"), col("dim"))).as("t_fx"))
      .groupBy(col("vec_id"), col("dim"))
      .agg(sum(col("t_fx")).as("proj_fx"))
      .select(col("vec_id"), col("dim"), col("proj_fx"),
        round(col("proj_fx").cast("double") / lit(1000000.0), 4).as("proj"))
  }

  val simRpProjectSql: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
      |t AS (
      |  SELECT vec_id, r.range AS i, j.range AS dim,
      |    CAST(round(CAST(embedding[CAST(r.range + 1 AS INT)] AS DOUBLE)
      |        * 1000000.0, 0) AS BIGINT)
      |      * (CASE WHEN ((r.range * 2654435761 + j.range * 40503 + 1013904223)
      |                    % 1000000007) % 2 = 0 THEN 1 ELSE -1 END) AS t_fx
      |  FROM base CROSS JOIN range(64) r CROSS JOIN range(8) j)
      |SELECT vec_id, dim, CAST(sum(t_fx) AS BIGINT) AS proj_fx,
      |  round(CAST(sum(t_fx) AS DOUBLE) / 1000000.0, 4) + 0 AS proj
      |FROM t GROUP BY 1, 2""".stripMargin

  /** D45: sliding mean-shift change detection over the daily event
    * value series — per event type, compare the trailing-7-day mean
    * against the leading-7-day mean at every day and report the top-3
    * largest shifts (level-change candidates). Daily sums are ×10⁴
    * fixed-point longs (exact under any accumulation order); the
    * ROWS frames require full 7-day windows so every reported shift
    * is a like-for-like comparison. Two exchanges total: the daily
    * rollup and the per-type window — day-count-bounded, so the
    * window input is ~365·n_types rows at ANY corpus scale.
    */
  def qChangeDetect(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * lit(10000.0), 0).cast("long")).as("v_fx"),
        count(lit(1)).as("n"))
    val pre = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    val post = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(0, 6)
    val shifted = daily
      .withColumn("pre_s", sum(col("v_fx")).over(pre))
      .withColumn("pre_n", sum(col("n")).over(pre))
      .withColumn("pre_d", count(lit(1)).over(pre))
      .withColumn("post_s", sum(col("v_fx")).over(post))
      .withColumn("post_n", sum(col("n")).over(post))
      .withColumn("post_d", count(lit(1)).over(post))
      .filter(col("pre_d") === 7 && col("post_d") === 7)
      .withColumn("shift",
        round(col("post_s").cast("double") / col("post_n") / lit(10000.0)
          - col("pre_s").cast("double") / col("pre_n") / lit(10000.0), 4))
    val rank = Window.partitionBy(col("event_type"))
      .orderBy(abs(col("shift")).desc, col("day"))
    shifted
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("event_type"), col("day"), col("shift"), col("rank"))
  }

  val qChangeDetectSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts)::DATE AS day,
      |    sum(CAST(round(value * 10000.0, 0) AS BIGINT)) AS v_fx,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day,
      |    sum(v_fx) OVER pre AS pre_s, sum(n) OVER pre AS pre_n,
      |    count(*) OVER pre AS pre_d,
      |    sum(v_fx) OVER post AS post_s, sum(n) OVER post AS post_n,
      |    count(*) OVER post AS post_d
      |  FROM daily
      |  WINDOW
      |    pre AS (PARTITION BY event_type ORDER BY day
      |            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING),
      |    post AS (PARTITION BY event_type ORDER BY day
      |             ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)),
      |s AS (
      |  SELECT event_type, day,
      |    round(CAST(post_s AS DOUBLE) / post_n / 10000.0
      |      - CAST(pre_s AS DOUBLE) / pre_n / 10000.0, 4) + 0 AS shift
      |  FROM w WHERE pre_d = 7 AND post_d = 7)
      |SELECT event_type, day, shift, rank FROM (
      |  SELECT event_type, day, shift,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(shift) DESC, day) AS rank
      |  FROM s) x
      |WHERE rank <= 3""".stripMargin
}
