package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 49: dedup impact reporting and
  * order-cycle latency — the per-source release accounting after
  * dedup runs, and the fulfillment-latency distribution an SLA
  * review reads.
  */
object Pipeline51 {

  /** E31: per-source dedup impact report — documents, near-dup
    * members (docs in some E6 cluster), clusters touched, docs that
    * would be REMOVED under keep-cluster-minimum, and the removal
    * rate ×10⁶: the per-source accounting a release note ships
    * after dedup runs ("source X lost 12% to near-dups"). M7's
    * manifest counts what's IN the release; this explains what
    * dedup took OUT, per source.
    *
    * Scale shape: the E6 labels are the session-materialized
    * cluster table (near-dup-member-sized); everything aggregates
    * the member⋈documents join and one per-source rollup of the
    * corpus (map-side combined).
    */
  def ddDedupReport(t: Tables): DataFrame = {
    val labels = LlmQueries.ccLabels(t) // (node, component)
    val docs = t.documents.select(col("doc_id"), col("source"))
    val perSource = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val members = docs.join(labels, col("doc_id") === col("node"))
      .select(col("source"), col("doc_id"), col("component"))
    val agg = members.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_members"),
        countDistinct(col("component")).as("n_clusters"),
        sum(when(col("doc_id") =!= col("component"), 1L).otherwise(0L))
          .as("n_removed"))
    perSource.join(agg, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        expr("(1000000 * coalesce(n_removed, 0)) div n_docs").as("removal_fx"))
  }

  val ddDedupReportSql: String =
    s"""WITH RECURSIVE pairs AS (${LlmQueries.ddNgramJaccardSql}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |ps AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
       |m AS (
       |  SELECT d.source, d.doc_id, c.component
       |  FROM documents d JOIN comp c ON d.doc_id = c.node),
       |a AS (
       |  SELECT source, count(*) AS n_members,
       |    count(DISTINCT component) AS n_clusters,
       |    CAST(sum(CASE WHEN doc_id <> component THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_removed
       |  FROM m GROUP BY 1)
       |SELECT ps.source, ps.n_docs,
       |  coalesce(a.n_members, 0) AS n_members,
       |  coalesce(a.n_clusters, 0) AS n_clusters,
       |  coalesce(a.n_removed, 0) AS n_removed,
       |  (1000000 * coalesce(a.n_removed, 0)) // ps.n_docs AS removal_fx
       |FROM ps LEFT JOIN a USING (source)""".stripMargin

  /** D110: order-to-ship cycle time — exact P50/P90 of the
    * (shipdate − orderdate) day lag per order priority, rank-based
    * on the compacted (priority, lag) count table (the D99
    * percentile-disc convention: smallest lag whose cumulative
    * count reaches ⌈q·n⌉). The fulfillment-latency distribution an
    * SLA review reads — D10 prices the orders, this times them.
    *
    * Scale shape: lineitem⋈orders is the one corpus-sized join
    * (order-keyed); lags compact to (priority, lag-days) counts
    * before any window, so the cumulative walk touches at most
    * |priorities| × |distinct lags| rows.
    */
  def qCycleTime(t: Tables): DataFrame = {
    val shipT = t.lineitem.schema("l_shipdate").dataType
    val ordT = t.orders.schema("o_orderdate").dataType
    val lags = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        (call_function("div",
          graft.Tables.tsMicrosExpr(shipT, col("l_shipdate")), lit(86400000000L))
          - call_function("div",
            graft.Tables.tsMicrosExpr(ordT, col("o_orderdate")), lit(86400000000L)))
          .as("lag_d"))
      .groupBy(col("priority"), col("lag_d"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("priority")).orderBy(col("lag_d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("priority"))
    lags
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("priority"))
      .agg(
        max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("lag_d"))).as("p50_days"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("lag_d"))).as("p90_days"))
  }

  val qCycleTimeSql: String =
    """WITH lags AS (
      |  SELECT o.o_orderpriority AS priority,
      |    epoch_us(l.l_shipdate) // 86400000000
      |      - epoch_us(o.o_orderdate) // 86400000000 AS lag_d
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |c AS (SELECT priority, lag_d, count(*) AS cnt FROM lags GROUP BY 1, 2),
      |k AS (
      |  SELECT priority, lag_d, cnt,
      |    sum(cnt) OVER (PARTITION BY priority ORDER BY lag_d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY priority) AS n
      |  FROM c)
      |SELECT priority, CAST(max(n) AS BIGINT) AS n,
      |  min(CASE WHEN cum >= (n + 1) // 2 THEN lag_d END) AS p50_days,
      |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lag_d END) AS p90_days
      |FROM k GROUP BY 1""".stripMargin
}
