package graft.queries

import graft.Tables
import graft.functions.Wkb
import graft.operators.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geometry operators over REAL WKB blobs (SURVEY §2 C/B rows, the
  * `_wkb` variants). The reference's geometry column is WKB on the
  * wire (reference: src/o2agol/pipeline/source.py:736-750 shapely
  * WKB decode; :966-1003 geometry-family split; transform.py:252-294
  * ring rules over decoded coordinates) — the plain rows exercise
  * the C-layer math over coordinate structs, these rows exercise the
  * SAME math through an actual encode→WKB-bytes→decode round trip
  * with the native codegen expressions in functions/Wkb.scala.
  *
  * Scale shape: every encode/decode is a map-side scan-path
  * expression inside whole-stage codegen (one static call per row,
  * no UDF); the only exchanges are the per-user aggregations the
  * plain variants already pay. Coordinates derive deterministically
  * from event columns (x = value, y = JSON props.k), filtered to
  * non-null y so every vertex is a real double on both engines.
  */
object GeoWkbQueries {

  private def pts(t: Tables): DataFrame =
    t.events.select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      col("ts"),
      col("value").as("x"),
      get_json_object(col("props"), "$.k").cast("double").as("y"))
      .filter(col("y").isNotNull)

  private val PtsSql =
    """SELECT event_id, user_id, event_type, ts, value AS x,
      |  CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL""".stripMargin

  /** Per-user coordinate sequence in (ts, event_id) order — the
    * deterministic vertex order shared by every query here and its
    * oracle (`list(... ORDER BY ts, event_id)`).
    */
  private def userSeqs(p: DataFrame): DataFrame =
    p.groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("x"), col("y")))).as("s"))
      .select(col("user_id"),
        transform(col("s"), e =>
          struct(e.getField("x").as("x"), e.getField("y").as("y"))).as("coords"))

  private val UserSeqsSql =
    s"""SELECT user_id, list({'x': x, 'y': y} ORDER BY ts, event_id) AS c
       |FROM ($PtsSql) GROUP BY user_id""".stripMargin

  /** A8-wkb: geometry-family split over a mixed REAL-WKB column —
    * every event as a Point blob, every ≥2-vertex user trajectory as
    * a LineString blob, every ≥3-vertex first-5 ring as a Polygon
    * blob, all through one binary `geom` column; the split then
    * reads ONLY the blob (type code + header vertex count), exactly
    * how the reference routes a mixed-geometry scan
    * (source.py:966-1003).
    */
  def srcGeometrySplitWkb(t: Tables): DataFrame = {
    val p = pts(t)
    // ONE per-user aggregation emits both derived geometries (union
    // branches over the same agg don't get exchange reuse — two
    // subtree scans would pay the user shuffle twice, measured in
    // the exchange budget: 3 -> 2)
    val derived = userSeqs(p)
      .select(explode(array(
        when(size(col("coords")) >= 2, Wkb.wkbLineFromCoords(col("coords"))),
        when(size(col("coords")) >= 3,
          Wkb.wkbPolygonFromCoords(slice(col("coords"), lit(1), lit(5)))))).as("geom"))
      .filter(col("geom").isNotNull)
    val geoms =
      p.select(Wkb.wkbFromXY(col("x"), col("y")).as("geom")).unionAll(derived)
    geoms
      .select(Wkb.wkbGeometryType(col("geom")).as("geometry_type"),
        Wkb.wkbNumPoints(col("geom")).as("np"))
      .groupBy(col("geometry_type"))
      .agg(count(lit(1)).as("n_features"),
        sum(col("np")).cast("long").as("n_vertices"))
  }

  /** Oracle: arithmetic twin of the blob counts — Points carry one
    * vertex each; LineStrings all trajectory vertices; Polygons the
    * first-5 ring plus the closing vertex — which the encoder
    * appends ONLY when the ring is not already closed (first ==
    * last coordinate), mirrored here as in trGeometryRulesWkbSql.
    */
  val srcGeometrySplitWkbSql: String =
    s"""WITH pts AS ($PtsSql),
       |users AS (SELECT user_id, count(*) AS n FROM pts GROUP BY user_id),
       |rings AS (
       |  SELECT c[1:least(len(c), 5)] AS r FROM ($UserSeqsSql) q WHERE len(c) >= 3)
       |SELECT 1 AS geometry_type, count(*) AS n_features, count(*) AS n_vertices
       |FROM pts HAVING count(*) > 0
       |UNION ALL
       |SELECT 2, count(*), CAST(sum(n) AS BIGINT) FROM users WHERE n >= 2
       |HAVING count(*) > 0
       |UNION ALL
       |SELECT 3, count(*),
       |  CAST(sum(len(r) + CASE WHEN r[1] = r[-1] THEN 0 ELSE 1 END) AS BIGINT)
       |FROM rings HAVING count(*) > 0""".stripMargin

  /** C2-wkb: trajectory length computed FROM the LineString blob —
    * encode the per-user vertex sequence to WKB, decode it back, sum
    * segment lengths with a sequential fold, read the vertex count
    * from the header alone.
    */
  def geoLineLengthWkb(t: Tables): DataFrame = {
    val seqs = userSeqs(pts(t))
      .filter(size(col("coords")) >= 2)
      .select(col("user_id"), Wkb.wkbLineFromCoords(col("coords")).as("geom"))
    // Single-pass native fold over the blob (WkbPathLength): same
    // left-to-right IEEE addition order as the decode→HOF composed
    // form, but one codegen'd static call per row — no coordinate
    // arrays, no interpreted lambdas (HOFs are CodegenFallback; the
    // composed form was a bench top-8 row, 1.51 s → this plan).
    seqs
      .select(col("user_id"),
        round(Wkb.wkbPathLength(col("geom")), 4).as("length"),
        Wkb.wkbNumPoints(col("geom")).cast("long").as("n_points"))
      .filter(col("length") > 1e-10)
  }

  val geoLineLengthWkbSql: String =
    s"""WITH seqs AS (
       |  SELECT user_id, c FROM ($UserSeqsSql) q WHERE len(c) >= 2)
       |SELECT user_id,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(2, len(c) + 1), i ->
       |      sqrt((c[i].x - c[i-1].x) * (c[i].x - c[i-1].x) +
       |           (c[i].y - c[i-1].y) * (c[i].y - c[i-1].y)))),
       |    (a, b) -> a + b), 4) + 0 AS length,
       |  CAST(len(c) AS BIGINT) AS n_points
       |FROM seqs
       |WHERE round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(2, len(c) + 1), i ->
       |      sqrt((c[i].x - c[i-1].x) * (c[i].x - c[i-1].x) +
       |           (c[i].y - c[i-1].y) * (c[i].y - c[i-1].y)))),
       |    (a, b) -> a + b), 4) > 1e-10""".stripMargin

  /** C5-wkb: polygon centroid + signed area FROM the Polygon blob —
    * the first-5 ring is encoded (the encoder appends the closing
    * vertex real WKB polygons carry), decoded back as stored, the
    * closing vertex stripped, then the same shoelace math as the
    * plain row (cli.py:2234-2303 polygons_to_centroids).
    */
  def geoCentroidWkb(t: Tables): DataFrame = {
    val seqs = userSeqs(pts(t))
      .filter(size(col("coords")) >= 3)
      .select(col("user_id"),
        Wkb.wkbPolygonFromCoords(slice(col("coords"), 1, 5)).as("geom"))
    // Single-pass native shoelace over the blob (WkbRingStats):
    // strips the encoder's closing vertex and folds area/cx/cy in
    // the SAME cyclic cross-term order as the composed
    // decode→polygonArea/polygonCentroid HOFs it replaces (three
    // interpreted ring walks → one codegen'd static call;
    // spec-pinned bit-identical).
    seqs
      .select(col("user_id"), Wkb.wkbRingStats(col("geom")).as("s"))
      .filter(abs(col("s.area")) > 1e-12)
      .select(col("user_id"),
        round(col("s.area"), 4).as("area"),
        round(col("s.cx"), 4).as("cx"),
        round(col("s.cy"), 4).as("cy"))
  }

  val geoCentroidWkbSql: String =
    s"""WITH seqs AS (
       |  SELECT user_id, c[1:least(len(c), 5)] AS r
       |  FROM ($UserSeqsSql) q WHERE len(c) >= 3),
       |calc AS (
       |  SELECT user_id, r, len(r) AS n,
       |    list_sum(list_transform(range(1, len(r) + 1), i ->
       |      r[i].x * r[(i % len(r)) + 1].y - r[(i % len(r)) + 1].x * r[i].y)) / 2.0 AS a
       |  FROM seqs)
       |SELECT user_id, round(a, 4) + 0 AS area,
       |  round(list_sum(list_transform(range(1, n + 1), i ->
       |    (r[i].x + r[(i % n) + 1].x) * (r[i].x * r[(i % n) + 1].y - r[(i % n) + 1].x * r[i].y))) / (6 * a), 4) + 0 AS cx,
       |  round(list_sum(list_transform(range(1, n + 1), i ->
       |    (r[i].y + r[(i % n) + 1].y) * (r[i].x * r[(i % n) + 1].y - r[(i % n) + 1].x * r[i].y))) / (6 * a), 4) + 0 AS cy
       |FROM calc WHERE abs(a) > 1e-12""".stripMargin

  /** B11-wkb: make-valid geometry rules over rings that round-trip
    * through REAL WKB Polygon blobs — the encoder adds the closing
    * vertex (as stored WKB carries it), the decoder returns the ring
    * as stored, and the rules then strip it back off, collapse
    * consecutive duplicates, normalize winding, and apply the
    * degenerate-area validity test (transform.py:252-294 + :29).
    */
  def trGeometryRulesWkb(t: Tables): DataFrame = {
    val seqs = userSeqs(pts(t))
      .select(col("user_id"),
        Wkb.wkbPolygonFromCoords(col("coords")).as("geom"))
    // staged projections: decode once, normalize once, compute the
    // shoelace once — every downstream reference is a column read,
    // not a re-evaluated subtree (the decode would otherwise run
    // inside each HOF lambda; see geoLineLengthWkb)
    seqs
      .select(col("user_id"), Wkb.wkbCoords(col("geom")).as("raw"))
      .select(col("user_id"), col("raw"), Geo.normalizeRing(col("raw")).as("valid"))
      .select(col("user_id"), col("raw"), col("valid"),
        Geo.polygonArea(col("valid")).as("area"))
      .select(
        col("user_id"),
        size(col("raw")).cast("long").as("n_raw"),
        size(col("valid")).cast("long").as("n_valid"),
        round(abs(col("area")), 4).as("area_abs"),
        // ringIsValid(raw) unrolled over the materialized pieces:
        // same normalizeRing + minArea=1e-9 test, evaluated once
        (size(col("valid")) >= 3 && abs(col("area")) > 1e-9)
          .cast("int").cast("long").as("is_valid"))
  }

  val trGeometryRulesWkbSql: String = {
    // Sequential list_reduce mirrors the engine's left-to-right
    // fold — identical IEEE addition order (as trGeometryRulesSql).
    def areaSql(d: String): String =
      s"""(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len($d) + 1),
         |    i -> $d[i].x * $d[1 + i % len($d)].y - $d[1 + i % len($d)].x * $d[i].y)),
         |  (a, b) -> a + b) / 2)""".stripMargin
    // The encoder closes the ring ONLY when it is not already
    // closed (first vertex == last vertex) — mirrored here, unlike
    // the plain row's unconditional append.
    s"""WITH rings AS ($UserSeqsSql),
       |raw AS (
       |  SELECT user_id,
       |    CASE WHEN len(c) > 0 AND c[1] = c[-1] THEN c
       |         ELSE list_concat(c, c[1:1]) END AS r
       |  FROM rings),
       |opened AS (
       |  SELECT user_id, len(r) AS n_raw,
       |    CASE WHEN len(r) > 1 AND r[1] = r[-1] THEN r[1:len(r)-1] ELSE r END AS o
       |  FROM raw),
       |dedup AS (
       |  SELECT user_id, n_raw,
       |    list_filter(o, (p, i) -> i = 1 OR p != o[i-1]) AS d
       |  FROM opened),
       |norm AS (
       |  SELECT user_id, n_raw,
       |    CASE WHEN ${areaSql("d")} < 0 THEN list_reverse(d) ELSE d END AS n
       |  FROM dedup)
       |SELECT user_id, n_raw, len(n) AS n_valid,
       |  round(abs(${areaSql("n")}), 4) + 0 AS area_abs,
       |  CAST(CASE WHEN len(n) >= 3 AND abs(${areaSql("n")}) > 1e-9
       |       THEN 1 ELSE 0 END AS BIGINT) AS is_valid
       |FROM norm""".stripMargin
  }
}
