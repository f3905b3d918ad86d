package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Analytic coverage, batch 2 (SURVEY §2 D continued): semi/anti
  * joins, grouping sets, exact percentiles, pivot, dimension
  * enrichment, and the salted two-phase aggregation skew pattern.
  */
object Analytic2 {

  /** D7: EXISTS — customers with at least one urgent order
    * (left-semi join; builds the reference's "only features with a
    * match" filters).
    */
  def qExists(t: Tables): DataFrame =
    t.customer
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))

  val qExistsSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin

  /** D8: NOT EXISTS — customers with no orders at all (left-anti). */
  def qNotExists(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), round(col("c_acctbal"), 4).as("acctbal"))

  val qNotExistsSql: String =
    """SELECT c_custkey, round(c_acctbal, 4) + 0 AS acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** D9: ROLLUP — revenue at (region, nation), (region), and grand
    * total levels in one pass.
    */
  def qRollup(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 4).as("total_bal"), count(lit(1)).as("n_customers"))

  val qRollupSql: String =
    """SELECT r_name, n_name, round(sum(c_acctbal), 4) + 0 AS total_bal,
      |  count(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  /** D9b: CUBE over the same dims as the rollup — all grouping-set
    * combinations including per-nation-across-regions margins.
    */
  def qCube(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("n_name"))
      .agg(round(sum(col("c_acctbal")), 4).as("total_bal"), count(lit(1)).as("n_customers"))

  val qCubeSql: String =
    """SELECT r_name, n_name, round(sum(c_acctbal), 4) + 0 AS total_bal,
      |  count(*) AS n_customers
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE (r_name, n_name)""".stripMargin

  /** D10: exact interpolated percentiles per group — computed via
    * [[graft.operators.Quantiles.exactInterpolated]]'s window sort
    * (spill-bounded memory) rather than Spark's `percentile`
    * aggregate, whose per-group value-count map is O(distinct
    * values) heap on a continuous double at scale. D36
    * (q_quantile_approx) is the sketch twin when rank error is
    * tolerable.
    */
  def qPercentiles(t: Tables): DataFrame =
    graft.operators.Quantiles
      .exactInterpolated(t.orders, "o_orderstatus", "o_totalprice",
        Seq("p50" -> 0.5, "p90" -> 0.9))
      .select(col("o_orderstatus"),
        round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"))

  val qPercentilesSql: String =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 4) + 0 AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 4) + 0 AS p90
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** D11: pivot — event counts per user bucketed by type, as
    * columns (the reference's per-category layer splits, wide form).
    */
  def qPivot(t: Tables): DataFrame =
    t.events
      .withColumn("bucket", (col("user_id") % 10).cast("long"))
      .groupBy(col("bucket"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0) // empty cells: align with FILTER's 0 (pivot yields null)

  val qPivotSql: String =
    """SELECT user_id % 10 AS bucket,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'view') AS view,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events GROUP BY 1""".stripMargin

  /** D12: streaming-style dimension enrichment — events joined to
    * the (broadcast) customer dim, aggregated per segment.
    */
  def qEnrichJoin(t: Tables): DataFrame =
    t.events
      .join(broadcast(t.customer), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))

  val qEnrichJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |  round(sum(value), 4) + 0 AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** D13: salted two-phase aggregation — the skew pattern: partial
    * agg on (key, salt) spreads a hot key over the cluster, final
    * agg merges partials. Same result as the direct groupBy (which
    * is the oracle).
    */
  def qSaltedAgg(t: Tables): DataFrame = {
    val salted = t.events
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("value")).as("ps"))
    salted
      .groupBy(col("event_type"))
      .agg(sum(col("pc")).as("n_events"), round(sum(col("ps")), 4).as("total_value"))
  }

  val qSaltedAggSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 4) + 0 AS total_value
      |FROM events GROUP BY event_type""".stripMargin

  /** D14: as-of join — each event annotated with the user's most
    * recent order at or before the event time (union+window
    * formulation, one shuffle; right side pre-aggregated to one row
    * per (key, time) for determinism under ties).
    */
  def qAsofJoin(t: Tables): DataFrame = {
    val ordersByDay = t.orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("last_orderkey"))
    graft.operators.AsOfJoin
      .lastBefore(
        t.events.select(col("event_id"), col("user_id"), col("ts")),
        ordersByDay,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        payloadCols = Seq("last_orderkey"))
      .select(col("event_id"), col("user_id"), col("last_orderkey"))
  }

  val qAsofJoinSql: String =
    """WITH r AS (
      |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, r.last_orderkey
      |FROM events e ASOF LEFT JOIN r
      |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin

  /** D15: trailing moving average per user (5-row window) — the
    * rolling-statistics shape of monitoring/feature pipelines.
    */
  def qMovingAvg(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts")).rowsBetween(-4, 0)
    t.events.select(
      col("event_id"), col("user_id"),
      round(avg(col("value")).over(w), 4).as("ma5"))
  }

  val qMovingAvgSql: String =
    """SELECT event_id, user_id,
      |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) + 0 AS ma5
      |FROM events""".stripMargin

  /** D16: decile assignment per customer balance (ntile). Computed
    * by [[graft.operators.GlobalRank.ntileExact]] — a range-
    * partitioned parallel sort + zipWithIndex + the SQL ntile closed
    * form — instead of `ntile(10).over(Window.orderBy(…))`, whose
    * empty partition spec funnels the whole table through one task
    * (the PlanGuardSpec failure mode). Same exact semantics, no
    * global window.
    */
  def qNtile(t: Tables): DataFrame =
    graft.operators.GlobalRank
      .ntileExact(
        t.customer.select(col("c_custkey"), col("c_acctbal")),
        Seq(col("c_acctbal"), col("c_custkey")),
        k = 10, out = "decile")
      .select(col("c_custkey"), col("decile"))

  val qNtileSql: String =
    """SELECT c_custkey,
      |  ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      |FROM customer""".stripMargin

  /** D17: fixed-width histogram of order totals (binning for data
    * profiling; closed form shared with the oracle).
    */
  def qHistogram(t: Tables): DataFrame =
    t.orders
      .withColumn("bin", floor(col("o_totalprice") / 25000.0).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))

  val qHistogramSql: String =
    """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
      |  count(*) AS n, round(avg(o_totalprice), 4) + 0 AS avg_price
      |FROM orders GROUP BY 1""".stripMargin

  /** D18: top-3 orders per customer via the bounded-heap
    * `TopKAgg` TypedImperativeAggregate — same semantics as
    * `q_topn_window` but with map-side-combined k-bounded partial
    * states instead of a full partition sort.
    */
  def qTopnHeap(t: Tables): DataFrame =
    t.orders
      .groupBy(col("o_custkey"))
      .agg(graft.functions.TopKAgg(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(
        col("o_custkey"),
        col("col.payload").as("o_orderkey"),
        round(col("col.ord"), 4).as("totalprice"),
        (col("pos") + 1).cast("long").as("rn"))

  /** D19: z-score standardization per group — windowed feature
    * engineering (map-only after one shuffle on the group key).
    */
  def qZscore(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    t.events.select(
      col("event_id"), col("event_type"),
      round((col("value") - avg(col("value")).over(w)) / stddev_samp(col("value")).over(w), 4)
        .as("z"))
  }

  val qZscoreSql: String =
    """SELECT event_id, event_type,
      |  round((value - avg(value) OVER (PARTITION BY event_type))
      |        / stddev_samp(value) OVER (PARTITION BY event_type), 4) + 0 AS z
      |FROM events""".stripMargin

  /** D20: min-max scaling per group. */
  def qMinmaxScale(t: Tables): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    t.events.select(
      col("event_id"), col("event_type"),
      round((col("value") - min(col("value")).over(w)) /
        (max(col("value")).over(w) - min(col("value")).over(w)), 4).as("scaled"))
  }

  val qMinmaxScaleSql: String =
    """SELECT event_id, event_type,
      |  round((value - min(value) OVER (PARTITION BY event_type))
      |        / (max(value) OVER (PARTITION BY event_type)
      |           - min(value) OVER (PARTITION BY event_type)), 4) + 0 AS scaled
      |FROM events""".stripMargin

  /** D21: bivariate statistics per group — Pearson correlation and
    * sample covariance between the event value and its JSON metric.
    */
  def qCorrStats(t: Tables): DataFrame =
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      .groupBy(col("event_type"))
      .agg(
        round(corr(col("value"), col("k")), 4).as("pearson"),
        round(covar_samp(col("value"), col("k")), 4).as("covariance"))

  val qCorrStatsSql: String =
    """SELECT event_type,
      |  round(corr(value, k), 4) + 0 AS pearson,
      |  round(covar_samp(value, k), 4) + 0 AS covariance
      |FROM (SELECT event_type, value,
      |        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
      |      FROM events) x
      |GROUP BY event_type""".stripMargin

  val qTopnHeapSql: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) + 0 AS totalprice, rn
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) x
      |WHERE rn <= 3""".stripMargin
}
