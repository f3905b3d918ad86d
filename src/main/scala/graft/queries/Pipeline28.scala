package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 25 (continued): functional-dependency
  * discovery audit and contrastive negative sampling.
  */
object Pipeline28 {

  /** D82: functional-dependency audit — for each candidate FD
    * lhs → rhs, how many lhs values exist, how many of them map to
    * MORE than one rhs value (violations), and whether the FD holds.
    * The schema-profiling pass (D27 profiles single columns; this
    * profiles COLUMN RELATIONSHIPS) that catches denormalization
    * drift — a violated "order → customer" FD is a corrupted feed.
    *
    * Scale shape: each candidate is ONE map-side-combined
    * (lhs, rhs) distinct + lhs rollup — the two-phase exact
    * countDistinct shape; candidates run independently and union
    * bounded 1-row reports.
    */
  def qFdCheck(t: Tables): DataFrame = {
    def check(name: String, df: DataFrame, lhs: String, rhs: String): DataFrame =
      df.select(col(lhs).as("l"), col(rhs).as("r")).distinct()
        .groupBy(col("l")).agg(count(lit(1)).as("n_rhs"))
        .agg(
          count(lit(1)).as("n_lhs"),
          sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
          (col("n_violating") === 0).cast("int").cast("long").as("holds"))
    check("orderkey->custkey", t.orders, "o_orderkey", "o_custkey")
      .unionByName(check("custkey->nationkey", t.customer, "c_custkey", "c_nationkey"))
      .unionByName(check("orderkey->suppkey", t.lineitem, "l_orderkey", "l_suppkey"))
      .unionByName(check("pname->brand", t.part, "p_name", "p_brand"))
      .unionByName(check("brand->ptype", t.part, "p_brand", "p_type"))
  }

  val qFdCheckSql: String =
    """WITH f1 AS (
      |  SELECT 'orderkey->custkey' AS fd, count(*) AS n_lhs,
      |    CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      |  FROM (SELECT o_orderkey, count(*) AS n_rhs
      |        FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders) x
      |        GROUP BY 1) g),
      |f2 AS (
      |  SELECT 'custkey->nationkey' AS fd, count(*) AS n_lhs,
      |    CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      |  FROM (SELECT c_custkey, count(*) AS n_rhs
      |        FROM (SELECT DISTINCT c_custkey, c_nationkey FROM customer) x
      |        GROUP BY 1) g),
      |f3 AS (
      |  SELECT 'orderkey->suppkey' AS fd, count(*) AS n_lhs,
      |    CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      |  FROM (SELECT l_orderkey, count(*) AS n_rhs
      |        FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) x
      |        GROUP BY 1) g),
      |f4 AS (
      |  SELECT 'pname->brand' AS fd, count(*) AS n_lhs,
      |    CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      |  FROM (SELECT p_name, count(*) AS n_rhs
      |        FROM (SELECT DISTINCT p_name, p_brand FROM part) x
      |        GROUP BY 1) g),
      |f5 AS (
      |  SELECT 'brand->ptype' AS fd, count(*) AS n_lhs,
      |    CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
      |  FROM (SELECT p_brand, count(*) AS n_rhs
      |        FROM (SELECT DISTINCT p_brand, p_type FROM part) x
      |        GROUP BY 1) g),
      |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
      |      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4
      |      UNION ALL SELECT * FROM f5)
      |SELECT fd, n_lhs, n_violating,
      |  CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END AS BIGINT) AS holds
      |FROM u""".stripMargin

  /** N20: contrastive negative sampling — k=3 deterministic
    * cross-source negatives per document (the retrieval/contrastive
    * training pairing step; N14 samples a corpus subset, this pairs
    * every anchor with hard-coded-seed negatives). Candidate j for
    * doc d is ((d + j·stride) mod N) with stride = N div 7 + 1;
    * candidates resolving to the SAME source are dropped, not
    * re-drawn (a pinned rule — rejection re-draws are unbounded in
    * SQL), so the pair set is deterministic at any scale.
    *
    * Scale shape: candidate ids are map-side arithmetic over the
    * doc-count literal (one bounded agg broadcast back); resolution
    * is one equi-join on the candidate id; output is ≤ 3 rows per
    * anchor.
    */
  def smNegativePairs(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"), col("source"))
      .localCheckpoint(true)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val cands = docs
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("source"),
        explode(typedLit(Seq(1, 2, 3))).as("j"),
        col("n_docs"))
      .withColumn("neg_id",
        pmod(col("doc_id") + col("j") * (expr("n_docs div 7") + 1),
          col("n_docs")))
      .filter(col("neg_id") =!= col("doc_id"))
    cands
      .join(docs.select(col("doc_id").as("neg_id"),
        col("source").as("neg_source")), Seq("neg_id"))
      .filter(col("neg_source") =!= col("source"))
      .select(col("doc_id"), col("j").cast("long").as("j"), col("neg_id"),
        col("source"), col("neg_source"))
  }

  val smNegativePairsSql: String =
    """WITH d AS (SELECT doc_id, source FROM documents),
      |n AS (SELECT count(*) AS n_docs FROM d),
      |c AS (
      |  SELECT doc_id, source, CAST(j AS BIGINT) AS j,
      |    (doc_id + j * (n_docs // 7 + 1)) % n_docs AS neg_id
      |  FROM d CROSS JOIN n
      |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS j) js)
      |SELECT c.doc_id, c.j, c.neg_id, c.source, d2.source AS neg_source
      |FROM c JOIN d d2 ON d2.doc_id = c.neg_id
      |WHERE c.neg_id != c.doc_id AND d2.source != c.source""".stripMargin
}
