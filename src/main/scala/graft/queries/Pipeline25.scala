package graft.queries

import graft.Tables
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 22: grid-density spatial clustering and
  * growth accounting.
  */
object Pipeline25 {

  /** C15: grid-density clustering (grid DBSCAN): bucket points into
    * 5×5 cells, keep cells ≥ 3× the mean occupancy (a RELATIVE
    * density gate — scale-invariant, no per-sf knob), and merge
    * 8-adjacent dense cells into clusters via the E6
    * large-star/small-star connected components. The hotspot-
    * detection capability beside C6's containment join: C6 asks
    * "which points fall in these boxes", this DISCOVERS the boxes.
    *
    * Scale shape: one corpus exchange to the cell histogram
    * (area-bounded at any corpus scale); density gate on
    * cross-multiplied integers (cnt·n_cells ≥ 3·n_points — no
    * float mean); adjacency is an 8-offset EXPLODE + equi-join on
    * the cell key (never an inequality self-join); CC runs on the
    * dense-cell-bounded edge set. Cell key = cx·1024+cy with
    * negative-neighbor guard (coordinate domain ≥ 0; 1024 bounds
    * cy by construction here — documents the packing contract).
    */
  def geoGridCluster(t: Tables): DataFrame = {
    val cells = t.events
      .select(col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      .select(floor(col("x") / 5.0).cast("long").as("cx"),
        floor(col("y") / 5.0).cast("long").as("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val tot = cells.agg(sum(col("cnt")).as("np"), count(lit(1)).as("nc"))
    val dense = cells.crossJoin(broadcast(tot))
      .filter(col("cnt") * col("nc") >= lit(3) * col("np"))
      .select((col("cx") * 1024 + col("cy")).as("id"),
        col("cx"), col("cy"), col("cnt"))
      .localCheckpoint(true)
    val offsets = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1),
      (0, 1), (1, -1), (1, 0), (1, 1))
    val cand = dense
      .select(col("id"), col("cx"), col("cy"),
        explode(typedLit(offsets)).as("o"))
      .filter(col("cx") + col("o._1") >= 0 && col("cy") + col("o._2") >= 0)
      .select(col("id").as("a"),
        ((col("cx") + col("o._1")) * 1024 + (col("cy") + col("o._2")))
          .as("nid"))
    val edges = cand
      .join(dense.select(col("id").as("b")), col("nid") === col("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val labels = Dedup.connectedComponents(edges, "a", "b")
    dense
      .join(labels.withColumnRenamed("node", "id"), Seq("id"), "left")
      .withColumn("cluster", coalesce(col("component"), col("id")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_points"))
  }

  val geoGridClusterSql: String =
    """WITH RECURSIVE p AS (
      |  SELECT value AS x,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |  FROM events),
      |cells AS (
      |  SELECT CAST(floor(x / 5.0) AS BIGINT) AS cx,
      |         CAST(floor(y / 5.0) AS BIGINT) AS cy, count(*) AS cnt
      |  FROM p GROUP BY 1, 2),
      |tot AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS np, count(*) AS nc FROM cells),
      |dense AS (
      |  SELECT cx * 1024 + cy AS id, cx, cy, cnt
      |  FROM cells CROSS JOIN tot WHERE cnt * nc >= 3 * np),
      |se AS (
      |  SELECT a.id AS a, b.id AS b FROM dense a JOIN dense b
      |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1 AND a.id < b.id),
      |edges AS (SELECT a, b FROM se UNION SELECT b AS a, a AS b FROM se),
      |reach(a, b) AS (
      |  SELECT id AS a, id AS b FROM dense
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lbl AS (SELECT a AS id, min(b) AS cluster FROM reach GROUP BY 1)
      |SELECT l.cluster, count(*) AS n_cells,
      |  CAST(sum(d.cnt) AS BIGINT) AS n_points
      |FROM dense d JOIN lbl l ON l.id = d.id
      |GROUP BY 1""".stripMargin

  /** D78: growth accounting — the daily active-user ledger split
    * into new / resurrected / returning (the standard
    * DAU-decomposition every growth team reports; D28's retention
    * matrix reads cohorts forward, this reads each day's
    * composition): new = first-ever active day, resurrected = last
    * activity more than 7 days ago, returning = active within the
    * window.
    *
    * Scale shape: the corpus collapses to distinct (user, day) — the
    * only corpus-sized exchange; the lag classification runs on the
    * per-user calendar-bounded table; the daily ledger is a
    * map-side-combined bounded rollup. All gap math on integer
    * epoch days.
    */
  def qGrowthAccounting(t: Tables): DataFrame = {
    val days = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("kind",
        when(col("prev").isNull, "new")
          .when(datediff(col("day"), col("prev")) > 7, "resurrected")
          .otherwise("returning"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_active"),
        sum(when(col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("kind") === "returning", 1L).otherwise(0L)).as("n_returning"),
        sum(when(col("kind") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
  }

  val qGrowthAccountingSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |k AS (
      |  SELECT user_id, day,
      |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |  FROM d)
      |SELECT day, count(*) AS n_active,
      |  CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN prev IS NOT NULL
      |                 AND day - prev <= 7 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_returning,
      |  CAST(sum(CASE WHEN prev IS NOT NULL
      |                 AND day - prev > 7 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_resurrected
      |FROM k GROUP BY 1""".stripMargin
}
