package graft.queries

import graft.Tables
import graft.operators.Normalize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Transform-layer operator exercises (SURVEY §2 B) — each drives
  * the `Normalize` public API over testdata analogues of the
  * Overture layers.
  */
object TransformQueries {

  /** B1: roads schema normalization (transform.py:431-469) —
    * project/rename to the flat publish schema, strings clipped,
    * publish column order. `part` stands in for segments.
    */
  def trNormalizeRoads(t: Tables): DataFrame = {
    val projected = t.part.select(
      col("p_partkey").as("id"),
      col("p_name").as("name"),
      col("p_brand").as("road_class"),
      col("p_type").as("road_type"))
    Normalize.orderColumnsForPublish(Normalize.clipStrings(projected))
  }

  val trNormalizeRoadsSql: String =
    """SELECT p_partkey AS id, p_name AS name, p_brand AS road_class,
      |  p_type AS road_type FROM part""".stripMargin

  /** B2: buildings schema normalization incl. numeric height/floors
    * (transform.py:472-515).
    */
  def trNormalizeBuildings(t: Tables): DataFrame = {
    val projected = t.part.select(
      col("p_partkey").as("id"),
      col("p_name").as("name"),
      col("p_brand").as("building_class"),
      Normalize.safeNumeric(col("p_retailprice"), "double").as("height_m"),
      Normalize.safeNumeric(col("p_size"), "int").as("floors"))
    Normalize
      .orderColumnsForPublish(Normalize.clipStrings(projected))
      .withColumn("height_m", round(col("height_m"), 4))
  }

  val trNormalizeBuildingsSql: String =
    """SELECT p_partkey AS id, p_name AS name, p_brand AS building_class,
      |  round(TRY_CAST(p_retailprice AS DOUBLE), 4) + 0 AS height_m,
      |  TRY_CAST(p_size AS INT) AS floors FROM part""".stripMargin

  /** B3: places schema normalization (transform.py:518-573) — JSON
    * flatten + category + confidence over the events analogue.
    */
  def trNormalizePlaces(t: Tables): DataFrame =
    t.events.select(
      col("event_id").as("id"),
      get_json_object(col("props"), "$.k").as("name_primary"),
      col("event_type").as("category_primary"),
      round(col("value"), 4).as("confidence"))

  val trNormalizePlacesSql: String =
    """SELECT event_id AS id, json_extract_string(props, '$.k') AS name_primary,
      |  event_type AS category_primary, round(value, 4) + 0 AS confidence
      |FROM events""".stripMargin

  /** B4: string clipping at 255 (transform.py:327-331). */
  def trClipStrings(t: Tables): DataFrame =
    Normalize
      .clipStrings(t.documents.select(col("doc_id"), col("text")))
      .withColumn("clipped_len", length(col("text")))
      .drop("text")

  val trClipStringsSql: String =
    "SELECT doc_id, length(left(text, 255)) AS clipped_len FROM documents"

  /** B5: safe numeric conversion (transform.py:757-770) — a valid
    * JSON-int extraction and a guaranteed-garbage cast both flow
    * through try_cast semantics (null, never an error).
    */
  def trSafeNumeric(t: Tables): DataFrame =
    t.events.select(
      col("event_id"),
      Normalize.safeNumeric(get_json_object(col("props"), "$.k"), "int").as("k_int"),
      Normalize.safeNumeric(col("event_type"), "int").as("bad_cast"))

  val trSafeNumericSql: String =
    """SELECT event_id,
      |  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
      |  TRY_CAST(event_type AS INT) AS bad_cast
      |FROM events""".stripMargin

  /** B6: first-of-array extraction (transform.py:725-742
    * `_extract_first_from_array`).
    */
  def trFirstOfArray(t: Tables): DataFrame =
    t.embeddings.select(
      col("vec_id"),
      round(element_at(col("embedding"), 1).cast("double"), 4).as("first_dim"),
      size(col("embedding")).cast("long").as("dim"))

  val trFirstOfArraySql: String =
    """SELECT vec_id, round(CAST(embedding[1] AS DOUBLE), 4) + 0 AS first_dim,
      |  len(embedding) AS dim FROM embeddings""".stripMargin
  // `+ 0` normalizes DuckDB's round(-0.00002, 4) = -0.0 to +0.0
  // (Spark's BigDecimal round never emits -0.0).

  /** B7: field-name sanitization (transform.py:33-108, 297-324) —
    * reserved keywords suffixed, spaces/dashes underscored, 30-char
    * cap. The frame is built with hostile names, then sanitized.
    */
  def trSanitizeFields(t: Tables): DataFrame = {
    val hostile = t.orders.select(
      col("o_orderkey").as("select"),
      col("o_orderstatus").as("order status"),
      col("o_totalprice").as("an-extremely-long-field-name-beyond-the-agol-limit"))
    Normalize
      .sanitizeFieldNames(hostile)
      .withColumn("an_extremely_long_field_name_b", round(col("an_extremely_long_field_name_b"), 4))
  }

  val trSanitizeFieldsSql: String =
    """SELECT o_orderkey AS select_field, o_orderstatus AS order_status,
      |  round(o_totalprice, 4) + 0 AS an_extremely_long_field_name_b
      |FROM orders""".stripMargin

  /** B8: metadata enrichment (transform.py:151-177). */
  def trMetadataEnrich(t: Tables): DataFrame =
    Normalize.addMetadata(
      t.nation.select(col("n_nationkey"), col("n_name")),
      countryIso3 = "AFG",
      countryName = "Afghanistan",
      sector = Some("Road Network"),
      processedDate = "2026-01-01T00:00:00")

  val trMetadataEnrichSql: String =
    """SELECT n_nationkey, n_name,
      |  '2026-01-01T00:00:00' AS processed_date,
      |  'AFG' AS country_iso3, 'Afghanistan' AS country_name,
      |  'Road Network' AS data_sector
      |FROM nation""".stripMargin

  /** B10: schema-full JSON parsing — from_json with a declared
    * schema (the structured counterpart of the A2 path extraction;
    * reference flattens whole JSON objects, transform.py:576-635).
    */
  def trFromJson(t: Tables): DataFrame =
    t.events.select(
      col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))).as("p"))
      .select(col("event_id"), col("p.k").as("k"))

  val trFromJsonSql: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events""".stripMargin

  /** B9: validity rules (transform.py:252-294) — non-null/non-empty
    * requireds plus the degenerate-magnitude threshold.
    */
  def trDropInvalid(t: Tables): DataFrame =
    Normalize
      .dropInvalid(
        t.events.select(col("event_id"), col("event_type"), col("value")),
        requiredNonEmpty = Seq("event_type", "value"),
        magnitudeCol = Some(("value", 1.0)))
      .withColumn("value", round(col("value"), 4))

  val trDropInvalidSql: String =
    """SELECT event_id, event_type, round(value, 4) + 0 AS value FROM events
      |WHERE event_type IS NOT NULL AND event_type != ''
      |  AND value IS NOT NULL AND value > 1.0""".stripMargin

  /** B11: make-valid geometry rules over REAL coordinate rings —
    * closing-vertex drop, consecutive-duplicate collapse, CCW
    * winding normalization, degenerate-area validity
    * (transform.py:252-294 `enforce_geometry_rules` + :29
    * MIN_POLYGON_AREA). Rings derive from each user's event points
    * in (ts, event_id) order with the first vertex re-appended, so
    * the closing-vertex rule actually fires on every row.
    */
  def trGeometryRules(t: Tables): DataFrame = {
    import graft.operators.Geo
    val pts = t.events.select(
      col("user_id"), col("ts"), col("event_id"),
      col("value").as("x"),
      get_json_object(col("props"), "$.k").cast("double").as("y"))
      .filter(col("y").isNotNull)
    val rings = pts
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("x"), col("y")))).as("s"))
      .select(col("user_id"),
        transform(col("s"), e =>
          struct(e.getField("x").as("x"), e.getField("y").as("y"))).as("open"))
    val raw = concat(col("open"), slice(col("open"), 1, 1))
    // r14: the normalizeRing/polygonArea HOF chain is CodegenFallback
    // (interpreted lambdas, ring re-walked per output column); the
    // native single-pass graft.functions.RingStats computes
    // (n_valid, signed area of the normalized ring) bit-identically
    // inside whole-stage codegen — the WkbRingStats precedent, scoped
    // to this row (the r13 staged-projection attempt was a proven
    // plan no-op; this is the "real fix" it deferred).
    // The struct is projected once and its fields read from that
    // column: RingStats is not cheap, so the optimizer keeps the two
    // projections apart instead of inlining one call per field read.
    val area = col("s.area")
    val nValid = col("s.n_valid")
    rings
      .select(col("user_id"), size(raw).cast("long").as("n_raw"),
        graft.functions.RingStats(raw).as("s"))
      .select(
        col("user_id"),
        col("n_raw"),
        nValid.cast("long").as("n_valid"),
        round(abs(area), 4).as("area_abs"),
        (nValid >= 3 && abs(area) > 1e-9).cast("int").cast("long").as("is_valid"))
  }

  val trGeometryRulesSql: String = {
    // Sequential list_reduce (not list_sum) mirrors the engine's
    // left-to-right fold — identical IEEE addition order.
    def areaSql(d: String): String =
      s"""(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(range(1, len($d) + 1),
         |    i -> $d[i].x * $d[1 + i % len($d)].y - $d[1 + i % len($d)].x * $d[i].y)),
         |  (a, b) -> a + b) / 2)""".stripMargin
    s"""WITH pts AS (
       |  SELECT user_id, ts, event_id, value AS x,
       |    CAST(json_extract_string(props, '$$.k') AS DOUBLE) AS y
       |  FROM events
       |  WHERE CAST(json_extract_string(props, '$$.k') AS DOUBLE) IS NOT NULL),
       |rings AS (
       |  SELECT user_id, list({'x': x, 'y': y} ORDER BY ts, event_id) AS opn
       |  FROM pts GROUP BY user_id),
       |raw AS (SELECT user_id, list_concat(opn, opn[1:1]) AS r FROM rings),
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

  /** B13: CRS reprojection (reference transform.py:259-260
    * `to_crs(4326)`, also :352-355, :819-823 — every non-4326 input
    * is reprojected back to WGS84 before publishing). Closed-form
    * spherical web-mercator both directions as codegen column math:
    * lon/lat (derived from the events analogue, C10's derivation) →
    * EPSG:3857 meters → back to WGS84. The round-trip columns pin
    * the inverse against the forward — the whole operator is
    * map-only, so at 100 TB it rides the scan with zero exchanges.
    */
  def trReproject(t: Tables): DataFrame = {
    import graft.operators.Geo
    val src = t.events.select(
      col("event_id"),
      (pmod(col("value"), lit(360.0)) - 180.0).as("lon"),
      (get_json_object(col("props"), "$.k").cast("double") * 0.8 - 40.0).as("lat"))
      .filter(col("lat").isNotNull)
    // Mercator meters materialized once; the inverse reads the
    // UNROUNDED meters so the round-trip is exact to fp noise.
    val merc = src.select(
      col("event_id"), col("lon"), col("lat"),
      Geo.lonToMercatorX(col("lon")).as("mx"),
      Geo.latToMercatorY(col("lat")).as("my"))
    merc.select(
      col("event_id"),
      round(col("mx"), 3).as("merc_x"),
      round(col("my"), 3).as("merc_y"),
      round(Geo.mercatorXToLon(col("mx")), 6).as("lon_rt"),
      round(Geo.mercatorYToLat(col("my")), 6).as("lat_rt"),
      round(col("lon"), 6).as("lon_src"),
      round(col("lat"), 6).as("lat_src"))
  }

  val trReprojectSql: String =
    """WITH src AS (
      |  SELECT event_id,
      |    ((value % 360.0) + 360.0) % 360.0 - 180.0 AS lon,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) * 0.8 - 40.0 AS lat
      |  FROM events
      |  WHERE CAST(json_extract_string(props, '$.k') AS DOUBLE) IS NOT NULL),
      |merc AS (
      |  SELECT event_id, lon, lat,
      |    lon * (pi() * 6378137.0 / 180.0) AS mx,
      |    ln(tan((lat + 90.0) * (pi() / 360.0))) * 6378137.0 AS my
      |  FROM src)
      |SELECT event_id,
      |  round(mx, 3) + 0 AS merc_x,
      |  round(my, 3) + 0 AS merc_y,
      |  round(mx / (pi() * 6378137.0 / 180.0), 6) + 0 AS lon_rt,
      |  round((atan(exp(my / 6378137.0)) * 2.0 - pi() / 2.0) * (180.0 / pi()), 6) + 0 AS lat_rt,
      |  round(lon, 6) + 0 AS lon_src,
      |  round(lat, 6) + 0 AS lat_src
      |FROM merc""".stripMargin
}
