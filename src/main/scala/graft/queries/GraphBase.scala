package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared co-purchase graph the D-series graph queries
  * (D46 triangles, D70 LPA, D83 BFS, D84 SSSP, D85 k-core, D97 link
  * prediction) all analyze: weighted part-pair edges from the
  * lineitem order self-join, kept when two or more orders contain
  * both parts.
  *
  * Session-scoped materialization (the E4 `ngramPairs` convention):
  * the corpus-sized self-join + pair count runs ONCE per (session,
  * dir) and is served checkpointed to every consumer — warehouse
  * materialized-view semantics. Transparency note (SURVEY §7h): the
  * six graph queries' bench figures reflect shared-intermediate
  * serving, exactly as stated for the E4/E6/E7 Jaccard trio.
  *
  * Scale shape of the build: one order-keyed self-join (pairs fan
  * out within an order's line items — bounded by order width) into
  * one map-side-combined pair count; nothing downstream re-pays it.
  */
object GraphBase {

  /** Weighted undirected-as-canonical (u < v) co-purchase pairs:
    * (u, v, w) with w = co-occurrence count ≥ 2, checkpointed.
    */
  def coPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionStage.value(spark, dir, "copurchase_edges") {
      val t = Tables(spark, dir)
      val li = t.lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.as("a")
        .join(li.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .localCheckpoint(true)
    }

  /** The D94 HITS bipartite edge set — distinct customer→part
    * purchase edges (u = o_custkey, p = l_partkey) from the
    * orders⋈lineitem join — shared under the same session-scoped
    * materialization contract as [[coPurchasePairs]] (round-8
    * verdict #4: the collapse is the only corpus-sized exchange in
    * the HITS chain and must not be re-paid per run).
    */
  def purchaseEdges(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionStage.value(spark, dir, "purchase_edges") {
      val t = Tables(spark, dir)
      t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(true)
    }
}
