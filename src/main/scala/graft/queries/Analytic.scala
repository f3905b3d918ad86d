package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic core — DataFrame engine parity queries (SURVEY §2 D).
  *
  * All aggregates are rounded to 4 dp at the edge so the driver's
  * DuckDB hash-compare is immune to FP summation-order noise.
  * Each query is a pure plan: no actions, no collects — Catalyst
  * picks partial aggregation and join strategies (dims broadcast).
  */
object Analytic {

  /** D1: TPC-H Q1-style pricing summary. Map-side partial agg, one
    * shuffle on the (tiny-cardinality) group key.
    */
  def q1Pricing(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order")
      )

  val q1PricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 4) + 0 AS sum_qty,
      |  round(sum(l_extendedprice), 4) + 0 AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) + 0 AS sum_disc_price,
      |  round(avg(l_quantity), 4) + 0 AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** D2: TPC-H Q3-style shipping priority — customer ⋈ orders ⋈
    * lineitem, agg, top-10. customer is dim-sized → broadcast.
    */
  def q3Priority(t: Tables): DataFrame = {
    val cust = t.customer.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    t.orders
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp") &&
        col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3PrioritySql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) + 0 AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1995-03-15'
      |  AND l_shipdate > TIMESTAMP '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** D3: TPC-H Q5-style star join — all dims broadcast, single
    * shuffle chain on the fact keys.
    */
  def q5Volume(t: Tables): DataFrame =
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))

  val q5VolumeSql: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 4) + 0 AS revenue
      |FROM lineitem, orders, customer, supplier, nation, region
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |GROUP BY n_name""".stripMargin

  /** D4: top-N per group via row_number window — the reference's
    * "first feature per key" patterns generalized.
    */
  def qTopnWindow(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("totalprice"),
        col("rn").cast("long").as("rn"))
  }

  val qTopnWindowSql: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) + 0 AS totalprice, rn
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) x
      |WHERE rn <= 3""".stripMargin

  /** D5: tumbling 1-hour event-time window aggregation — the batch
    * twin of the streaming windowed agg (SURVEY §2 I1).
    */
  def qEventsWindow(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value")
      )
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"), col("sum_value"))

  val qEventsWindowSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  count(*) AS n_events, round(sum(value), 4) + 0 AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** D6: gap-based sessionization (30-min inactivity gap) — lag +
    * cumulative sum of session-break flags; batch twin of the
    * stateful streaming sessionizer (SURVEY §2 I2).
    */
  def qSessionize(t: Tables): DataFrame = {
    val byUser  = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapSecs = 1800L
    t.events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapSecs * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("session_value")
      )
  }

  val qSessionizeSql: String =
    """SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
      |  round(sum(value), 4) + 0 AS session_value
      |FROM (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM (
      |    SELECT user_id, ts, value,
      |      CASE WHEN prev_ts IS NULL
      |             OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
      |    FROM (
      |      SELECT user_id, ts, value,
      |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |      FROM events) a) b) c
      |GROUP BY user_id, session_id""".stripMargin
}
