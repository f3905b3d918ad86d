package graft.queries

import graft.Tables
import graft.functions.HaversineDistKm
import graft.operators.GlobalRank
import graft.plans.GeoRadiusPushdown
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 30: optimizer-assisted radius search,
  * FIFO lot allocation, decile lift/gains table.
  */
object Pipeline35 {

  private def haversineKm(lat: Column, lon: Column, latC: Double, lonC: Double): Column =
    GraftBridge.column(HaversineDistKm(
      GraftBridge.expression(lat), GraftBridge.expression(lon),
      Literal(latC), Literal(lonC)))

  /** C16: radius search — events within 2 000 km of a center, count
    * + nearest distance per type. The query is written the way a
    * user writes it (ONE trig predicate, no manual bbox): the
    * [[GeoRadiusPushdown]] optimizer rule derives the bounding-box
    * envelope and Catalyst pushes the raw-column bound (`value`)
    * into the parquet scan's PushedFilters — row-group pruning from
    * a trig predicate, the Spark-first spatial-index probe. The
    * JSON-derived latitude's bound prunes rows before trig but
    * can't reach the scan (computed column) — exactly the
    * C4/src_polygon_clip envelope discipline, now automatic.
    *
    * Scale shape: map-only scan → filter → type-bounded aggregate;
    * zero shuffled rows beyond the per-type partials. At 100 TB the
    * envelope turns a full-corpus trig pass into a pruned-scan one.
    */
  def geoRadiusSearch(t: Tables): DataFrame = {
    GeoRadiusPushdown.install(t.spark)
    val p = t.events.select(
      col("event_type"),
      get_json_object(col("props"), "$.k").cast("double").as("lat"),
      col("value").as("lon"))
    // The 4326 validity gate (the normalization the reference
    // enforces on every input) is part of the query's semantics AND
    // the fact the optimizer rule keys its envelope soundness on —
    // without it, wrap-around coordinates make any range envelope
    // wrong and the rule (correctly) stands down.
    p.filter(col("lat") >= -90.0 && col("lat") <= 90.0 &&
        col("lon") >= -180.0 && col("lon") <= 180.0)
      .withColumn("dist_km", haversineKm(col("lat"), col("lon"), 40.0, 60.0))
      .filter(col("dist_km") < lit(2000.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_within"),
        expr("round(min(dist_km), 4)").as("nearest_km"))
  }

  val geoRadiusSearchSql: String =
    """WITH p AS (
      |  SELECT event_type,
      |    2 * 6371.0088 * asin(sqrt(
      |      pow(sin(radians(40.0 - CAST(json_extract_string(props, '$.k') AS DOUBLE)) / 2), 2)
      |      + cos(radians(CAST(json_extract_string(props, '$.k') AS DOUBLE)))
      |        * cos(radians(40.0))
      |        * pow(sin(radians(60.0 - value) / 2), 2))) AS dist_km
      |  FROM events
      |  WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) BETWEEN -90.0 AND 90.0
      |    AND value BETWEEN -180.0 AND 180.0)
      |SELECT event_type, count(*) AS n_within,
      |  round(min(dist_km), 4) + 0 AS nearest_km
      |FROM p WHERE dist_km < 2000.0
      |GROUP BY 1""".stripMargin

  /** D91: FIFO lot allocation — per part, match demand quantities
    * (return flags N/A, consumption) against supply lots (flag R,
    * restock) in ship-date order, the way FIFO inventory costing
    * matches issues to receipts. The classic sequential-matching
    * problem turned relational: cumulative-sum each side per part
    * ([lo, hi) quantity intervals under the (shipdate, orderkey,
    * linenumber) total order), then matched quantity = interval
    * overlap — a per-part range join, never a sequential scan.
    *
    * Scale shape: both cumulative windows and the join key are the
    * SAME part key, so at scale this is one co-partitioned pass
    * (window, window, join, agg all share the partitioning); per-part
    * pair width is bounded by per-part line counts, and AQE's skew
    * join splits a hot part. Quantities are exact BIGINTs end to end.
    */
  def qFifoAllocation(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    def side(flagSupply: Boolean) = t.lineitem
      .filter(if (flagSupply) col("l_returnflag") === "R" else col("l_returnflag") =!= "R")
      .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      .withColumn("hi", sum(col("qty")).over(w))
      .withColumn("lo", col("hi") - col("qty"))
    val supply = side(flagSupply = true)
      .select(col("l_partkey").as("s_part"), col("lo").as("slo"), col("hi").as("shi"))
    val demand = side(flagSupply = false)
      .select(col("l_partkey").as("d_part"), col("lo").as("dlo"), col("hi").as("dhi"))
    val matches = demand.join(supply,
        col("d_part") === col("s_part") &&
          col("slo") < col("dhi") && col("dlo") < col("shi"))
      .select(col("d_part").as("part_id"),
        expr("least(dhi, shi) - greatest(dlo, slo)").as("matched"))
      .groupBy(col("part_id"))
      .agg(count(lit(1)).as("n_matches"), sum(col("matched")).as("matched_qty"))
    // Side totals come from the FULL sides — the join keeps only
    // overlapping pairs, so an unmatched demand tail (demand past
    // supply exhaustion) would otherwise vanish from demand_qty.
    val dTot = demand.groupBy(col("d_part").as("part_id"))
      .agg(max(col("dhi")).as("demand_qty"))
    val sTot = supply.groupBy(col("s_part").as("part_id"))
      .agg(max(col("shi")).as("supply_qty"))
    // Both FIFO interval chains start at 0, so any part with both a
    // demand and a supply row has ≥1 overlap — inner joins lose
    // nothing.
    matches.join(dTot, Seq("part_id")).join(sTot, Seq("part_id"))
      .select(col("part_id"), col("n_matches"), col("matched_qty"),
        col("demand_qty"), col("supply_qty"),
        expr("(matched_qty * 1000000) div demand_qty").as("fill_ppm"))
  }

  val qFifoAllocationSql: String =
    """WITH base AS (
      |  SELECT l_partkey, l_returnflag,
      |    CAST(round(l_quantity) AS BIGINT) AS qty,
      |    sum(CAST(round(l_quantity) AS BIGINT)) OVER (
      |      PARTITION BY l_partkey, l_returnflag = 'R'
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS hi
      |  FROM lineitem),
      |iv AS (SELECT l_partkey, l_returnflag, hi - qty AS lo, hi FROM base),
      |s AS (SELECT l_partkey AS s_part, lo AS slo, hi AS shi
      |      FROM iv WHERE l_returnflag = 'R'),
      |d AS (SELECT l_partkey AS d_part, lo AS dlo, hi AS dhi
      |      FROM iv WHERE l_returnflag <> 'R'),
      |m AS (
      |  SELECT d_part AS part_id, count(*) AS n_matches,
      |    CAST(sum(least(dhi, shi) - greatest(dlo, slo)) AS BIGINT) AS matched_qty
      |  FROM d JOIN s ON s_part = d_part AND slo < dhi AND dlo < shi
      |  GROUP BY 1),
      |dt AS (SELECT d_part AS part_id, CAST(max(dhi) AS BIGINT) AS demand_qty
      |       FROM d GROUP BY 1),
      |st AS (SELECT s_part AS part_id, CAST(max(shi) AS BIGINT) AS supply_qty
      |       FROM s GROUP BY 1)
      |SELECT m.part_id, m.n_matches, m.matched_qty, dt.demand_qty, st.supply_qty,
      |  CAST((m.matched_qty * 1000000) // dt.demand_qty AS BIGINT) AS fill_ppm
      |FROM m JOIN dt ON dt.part_id = m.part_id
      |JOIN st ON st.part_id = m.part_id""".stripMargin

  /** D92: decile lift / gains table — customers ranked into spend
    * deciles (top spenders = decile 1), with each decile's
    * urgent-order conversion and the CUMULATIVE lift over the base
    * rate: the model-evaluation curve (gains chart) every targeting
    * or quality-classifier rollout is judged by, here computed
    * exactly instead of from a sampled curve.
    *
    * Scale shape: corpus collapses to per-customer (cents, label);
    * decile assignment is [[GlobalRank.ntileExact]] (range-
    * partitioned parallel sort — never a single-task global window
    * over customers); everything after runs on the 10-row decile
    * table (its cumulative window is PlanGuard-allowlisted as
    * decile-bounded). Lift is one fixed-parse-tree double expression
    * over exact integer counts, 4 dp.
    */
  def qDecileLift(t: Tables): DataFrame = {
    val perCust = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("pos"))
    val tiled = GlobalRank.ntileExact(perCust,
      Seq(col("cents").desc, col("o_custkey").asc), k = 10, out = "decile")
    val byDecile = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("pos")).as("n_pos"))
    val tot = byDecile.agg(sum(col("n_customers")).as("tot_n"), sum(col("n_pos")).as("tot_pos"))
    val cumW = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .crossJoin(broadcast(tot))
      .withColumn("cum_n", sum(col("n_customers")).over(cumW))
      .withColumn("cum_pos", sum(col("n_pos")).over(cumW))
      .select(col("decile"), col("n_customers"), col("n_pos"),
        expr("""round((CAST(cum_pos AS DOUBLE) / cum_n)
                / (CAST(tot_pos AS DOUBLE) / tot_n), 4)""").as("cum_lift"))
  }

  val qDecileLiftSql: String =
    """WITH pc AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
      |    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS pos
      |  FROM orders GROUP BY 1),
      |tiled AS (
      |  SELECT cents, pos,
      |    CAST(ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS decile
      |  FROM pc),
      |d AS (
      |  SELECT decile, count(*) AS n_customers,
      |    CAST(sum(pos) AS BIGINT) AS n_pos
      |  FROM tiled GROUP BY 1),
      |t AS (SELECT CAST(sum(n_customers) AS BIGINT) AS tot_n,
      |             CAST(sum(n_pos) AS BIGINT) AS tot_pos FROM d)
      |SELECT decile, n_customers, n_pos,
      |  round((CAST(sum(n_pos) OVER cw AS DOUBLE)
      |         / sum(n_customers) OVER cw)
      |        / (CAST(tot_pos AS DOUBLE) / tot_n), 4) + 0 AS cum_lift
      |FROM d CROSS JOIN t
      |WINDOW cw AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)""".stripMargin
}
