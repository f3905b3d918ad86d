package graft.queries

import graft.Tables
import graft.operators.Geo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Geometry-math operator exercises (SURVEY §2 C). The testdata has
  * no geometry column, so coordinates derive deterministically from
  * event columns: x = value, y = JSON props.k — both real data, no
  * synthesis.
  */
object GeoQueries {

  private def points(t: Tables): DataFrame =
    t.events.select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      col("ts"),
      col("value").as("x"),
      get_json_object(col("props"), "$.k").cast("double").as("y"))

  private val PointsSql =
    """SELECT event_id, user_id, event_type, ts, value AS x,
      |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y FROM events""".stripMargin

  /** C1: per-group bounding box (reference computes total_bounds for
    * cache metadata, source.py:1454).
    */
  def geoBboxAgg(t: Tables): DataFrame =
    Geo.bboxAgg(points(t), Seq("event_type"), "x", "y")

  val geoBboxAggSql: String =
    s"""SELECT event_type, round(min(x), 4) + 0 AS xmin, round(min(y), 4) + 0 AS ymin,
       |  round(max(x), 4) + 0 AS xmax, round(max(y), 4) + 0 AS ymax
       |FROM ($PointsSql) GROUP BY event_type""".stripMargin

  /** C2: trajectory polyline length with degenerate-drop
    * (MIN_LINE_LENGTH, transform.py:30).
    */
  def geoLineLength(t: Tables): DataFrame =
    Geo.lineLength(points(t), "user_id", "ts", "x", "y", minLength = 1e-10)

  val geoLineLengthSql: String =
    s"""SELECT user_id, round(sum(seg), 4) + 0 AS length, count(*) AS n_points
       |FROM (
       |  SELECT user_id,
       |    CASE WHEN px IS NULL THEN 0.0
       |         ELSE sqrt((x - px) * (x - px) + (y - py) * (y - py)) END AS seg
       |  FROM (
       |    SELECT user_id, x, y,
       |      lag(x) OVER (PARTITION BY user_id ORDER BY ts) AS px,
       |      lag(y) OVER (PARTITION BY user_id ORDER BY ts) AS py
       |    FROM ($PointsSql) p) q) r
       |GROUP BY user_id HAVING round(sum(seg), 4) > 1e-10""".stripMargin

  /** C3: point-in-bbox containment count per class (the clip
    * strategies' range predicate, source.py:496-507).
    */
  def geoPointInBbox(t: Tables): DataFrame = {
    val p = points(t)
    p.filter(Geo.inBBox(col("x"), col("y"), 10.0, 20.0, 120.0, 80.0))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_inside"))
  }

  val geoPointInBboxSql: String =
    s"""SELECT event_type, count(*) AS n_inside FROM ($PointsSql)
       |WHERE x >= 10.0 AND x <= 120.0 AND y >= 20.0 AND y <= 80.0
       |GROUP BY event_type""".stripMargin

  /** C6: spatial grid join — points-in-boxes containment as an
    * equi-join on grid cells (no cartesian product). Boxes derive
    * deterministically from the region dim.
    */
  def geoGridJoin(t: Tables): DataFrame = {
    val boxes = t.region.select(
      col("r_regionkey"),
      (col("r_regionkey") * 50.0).as("bxmin"),
      (col("r_regionkey") * 10.0).as("bymin"),
      (col("r_regionkey") * 50.0 + 120.0).as("bxmax"),
      (col("r_regionkey") * 10.0 + 40.0).as("bymax"))
    Geo
      .gridJoin(points(t), boxes, "x", "y", "bxmin", "bymin", "bxmax", "bymax", cellSize = 25.0)
      .groupBy(col("r_regionkey"))
      .agg(count(lit(1)).as("n_points"))
  }

  val geoGridJoinSql: String =
    s"""SELECT r_regionkey, count(*) AS n_points
       |FROM ($PointsSql) p
       |JOIN (SELECT r_regionkey,
       |        r_regionkey * 50.0 AS bxmin, r_regionkey * 10.0 AS bymin,
       |        r_regionkey * 50.0 + 120.0 AS bxmax, r_regionkey * 10.0 + 40.0 AS bymax
       |      FROM region) b
       |  ON p.x >= b.bxmin AND p.x <= b.bxmax AND p.y >= b.bymin AND p.y <= b.bymax
       |GROUP BY r_regionkey""".stripMargin

  /** C7: union bounding box via the typed Aggregator API
    * (graft.functions.BBoxUnion) — same semantics as C1 through a
    * merge-able typed aggregation.
    */
  def geoBboxTyped(t: Tables): DataFrame = {
    val p = points(t)
    p.groupBy(col("event_type"))
      .agg(graft.functions.BBoxUnion.column(col("x"), col("y")).as("bb"))
      .select(col("event_type"),
        round(col("bb.xmin"), 4).as("xmin"), round(col("bb.ymin"), 4).as("ymin"),
        round(col("bb.xmax"), 4).as("xmax"), round(col("bb.ymax"), 4).as("ymax"))
  }

  val geoBboxTypedSql: String = geoBboxAggSql

  /** C5: polygons → centroids (reference cli.py:2234-2303
    * `polygons_to_centroids`): build a ring per user from its first
    * 5 events, compute true area centroid + signed area, drop
    * degenerates.
    */
  def geoCentroid(t: Tables): DataFrame = {
    val p = points(t)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val rings = p
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("rn"), col("x"), col("y")))).as("pts"))
      .filter(size(col("pts")) >= 3)
      .withColumn("ring", transform(col("pts"), q =>
        struct(q.getField("x").as("x"), q.getField("y").as("y"))))
    rings
      .withColumn("area", round(Geo.polygonArea(col("ring")), 4))
      .withColumn("c", Geo.polygonCentroid(col("ring")))
      .filter(abs(Geo.polygonArea(col("ring"))) > 1e-12)
      .select(col("user_id"), col("area"),
        round(col("c.x"), 4).as("cx"), round(col("c.y"), 4).as("cy"))
  }

  val geoCentroidSql: String =
    s"""WITH pts AS (
       |  SELECT user_id, ts, x, y,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
       |  FROM ($PointsSql)),
       |rings AS (
       |  SELECT user_id, list(x ORDER BY rn) AS xs, list(y ORDER BY rn) AS ys
       |  FROM pts WHERE rn <= 5 GROUP BY user_id HAVING count(*) >= 3),
       |calc AS (
       |  SELECT user_id, xs, ys, len(xs) AS n,
       |    list_sum(list_transform(range(1, len(xs) + 1), i ->
       |      xs[i] * ys[(i % len(xs)) + 1] - xs[(i % len(xs)) + 1] * ys[i])) / 2.0 AS a
       |  FROM rings)
       |SELECT user_id, round(a, 4) + 0 AS area,
       |  round(list_sum(list_transform(range(1, n + 1), i ->
       |    (xs[i] + xs[(i % n) + 1]) * (xs[i] * ys[(i % n) + 1] - xs[(i % n) + 1] * ys[i]))) / (6 * a), 4) + 0 AS cx,
       |  round(list_sum(list_transform(range(1, n + 1), i ->
       |    (ys[i] + ys[(i % n) + 1]) * (xs[i] * ys[(i % n) + 1] - xs[(i % n) + 1] * ys[i]))) / (6 * a), 4) + 0 AS cy
       |FROM calc WHERE abs(a) > 1e-12""".stripMargin

  /** C4: haversine great-circle distance — codegen-friendly column
    * composition, no UDF. Coordinates mapped into valid lon/lat
    * ranges; distance to the origin, averaged per class.
    */
  def geoHaversine(t: Tables): DataFrame = {
    val p = points(t)
      .withColumn("lon", col("x") % 180.0)
      .withColumn("lat", col("y") % 90.0)
    p.withColumn("dist_km", Geo.haversineKm(col("lon"), col("lat"), lit(0.0), lit(0.0)))
      .groupBy(col("event_type"))
      .agg(round(avg(col("dist_km")), 4).as("avg_dist_km"))
  }

  val geoHaversineSql: String =
    s"""SELECT event_type, round(avg(dist_km), 4) + 0 AS avg_dist_km FROM (
       |  SELECT event_type,
       |    2 * 6371.0088 * asin(sqrt(
       |      pow(sin(radians(0.0 - (y % 90.0)) / 2), 2) +
       |      cos(radians(y % 90.0)) * cos(radians(0.0)) *
       |      pow(sin(radians(0.0 - (x % 180.0)) / 2), 2))) AS dist_km
       |  FROM ($PointsSql) p) q
       |GROUP BY event_type""".stripMargin
}
