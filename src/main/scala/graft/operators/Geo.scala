package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geometry column math — the reference's geometry handling
  * (reference: src/o2agol/pipeline/transform.py:252-294 geometry
  * rules; src/o2agol/pipeline/source.py:496-507 bbox filters;
  * src/o2agol/utils.py:376-425 bbox validate/expand) re-expressed
  * over plain coordinate columns. Everything is built from
  * `functions._` so it compiles to whole-stage codegen — no UDFs.
  */
object Geo {

  /** Mean-earth radius (km), the figure GIS stacks use. */
  val EarthRadiusKm = 6371.0088

  /** Great-circle distance between two lon/lat points in degrees. */
  def haversineKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Planar euclidean distance. */
  def euclid(dx: Column, dy: Column): Column = sqrt(dx * dx + dy * dy)

  // ---- CRS reprojection: WGS84 (EPSG:4326) ↔ web-mercator ----
  // The reference reprojects every non-4326 input back to WGS84
  // (transform.py:259-260 to_crs(4326), also :352-355, :819-823).
  // Spherical web-mercator (EPSG:3857) is the one projected CRS the
  // pipeline's own outputs use (tile keys, map publishing), so both
  // directions ship as closed-form codegen column math — the 100 TB
  // path is a map-only projection, no UDF, no shuffle.

  /** WGS84 ellipsoid semi-major axis (m) — the 3857 sphere radius. */
  val MercatorRadiusM = 6378137.0

  /** EPSG:4326 longitude (deg) → EPSG:3857 easting (m). */
  def lonToMercatorX(lon: Column): Column =
    lon * lit(math.Pi * MercatorRadiusM / 180.0)

  /** EPSG:4326 latitude (deg) → EPSG:3857 northing (m). Valid on the
    * web-mercator domain (|lat| < 85.051129°); poles diverge, as in
    * every 3857 implementation.
    */
  def latToMercatorY(lat: Column): Column =
    log(tan((lat + 90.0) * lit(math.Pi / 360.0))) * MercatorRadiusM

  /** EPSG:3857 easting (m) → EPSG:4326 longitude (deg). */
  def mercatorXToLon(x: Column): Column =
    x / lit(math.Pi * MercatorRadiusM / 180.0)

  /** EPSG:3857 northing (m) → EPSG:4326 latitude (deg). */
  def mercatorYToLat(y: Column): Column =
    (atan(exp(y / MercatorRadiusM)) * 2.0 - lit(math.Pi / 2.0)) * lit(180.0 / math.Pi)

  /** Point-in-bbox predicate (the reference's 4-range filter). */
  def inBBox(x: Column, y: Column, xmin: Double, ymin: Double, xmax: Double, ymax: Double): Column =
    x >= xmin && x <= xmax && y >= ymin && y <= ymax

  /** Spatial grid join: points → boxes containment without a
    * cartesian product. Boxes are exploded onto the fixed grid cells
    * they cover; points hash to their cell; the join is an EQUI-join
    * on cell id followed by the exact containment filter. At 100 TB
    * this shuffles on cell keys (bounded by box extents / cellSize)
    * instead of broadcasting-and-scanning every box against every
    * point. Box-side columns must not collide with point-side names.
    *
    * @param points df with x/y columns
    * @param boxes  df with xmin/ymin/xmax/ymax columns
    */
  def gridJoin(
      points: DataFrame,
      boxes: DataFrame,
      x: String,
      y: String,
      xmin: String, ymin: String, xmax: String, ymax: String,
      cellSize: Double
  ): DataFrame = {
    val cellOf = (v: Column) => floor(v / cellSize).cast("long")
    val pts = points
      .withColumn("_cx", cellOf(col(x)))
      .withColumn("_cy", cellOf(col(y)))
    val boxed = boxes
      .withColumn("_cx", explode(sequence(cellOf(col(xmin)), cellOf(col(xmax)))))
      .withColumn("_cy", explode(sequence(cellOf(col(ymin)), cellOf(col(ymax)))))
    pts
      .join(boxed, Seq("_cx", "_cy"))
      .filter(col(x) >= col(xmin) && col(x) <= col(xmax) &&
        col(y) >= col(ymin) && col(y) <= col(ymax))
      .drop("_cx", "_cy")
  }

  /** Per-group bounding box aggregate (cache metadata computes
    * `gdf.total_bounds` — reference source.py:1454).
    */
  def bboxAgg(df: DataFrame, groupCols: Seq[String], x: String, y: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        round(min(col(x)), 4).as("xmin"),
        round(min(col(y)), 4).as("ymin"),
        round(max(col(x)), 4).as("xmax"),
        round(max(col(y)), 4).as("ymax"))

  /** Ring rotated left by one: pairs each vertex with its successor
    * (closing edge included) for shoelace-style folds. `ring` is an
    * array<struct<x,y>> WITHOUT a repeated closing vertex.
    */
  private def rotated(ring: Column): Column =
    concat(slice(ring, lit(2), size(ring) - 1), slice(ring, lit(1), lit(1)))

  private def crossTerms(ring: Column): Column =
    zip_with(ring, rotated(ring), (p, q) =>
      p.getField("x") * q.getField("y") - q.getField("x") * p.getField("y"))

  /** Signed polygon area via the shoelace formula (positive =
    * counter-clockwise ring). The degenerate-polygon drop rule
    * (reference transform.py:29 MIN_POLYGON_AREA) filters on its
    * absolute value.
    */
  def polygonArea(ring: Column): Column =
    aggregate(crossTerms(ring), lit(0.0), (a, v) => a + v) / 2.0

  /** True area centroid of a simple polygon (what the reference's
    * polygons→centroids conversion computes per feature,
    * cli.py:2234-2303) — NOT the vertex mean. Undefined (caller
    * filters) when |area| ~ 0.
    */
  def polygonCentroid(ring: Column): Column = {
    val a2 = aggregate(crossTerms(ring), lit(0.0), (a, v) => a + v) // 2·area
    val cx = aggregate(
      zip_with(ring, rotated(ring), (p, q) =>
        (p.getField("x") + q.getField("x")) *
          (p.getField("x") * q.getField("y") - q.getField("x") * p.getField("y"))),
      lit(0.0), (a, v) => a + v) / (lit(3.0) * a2)
    val cy = aggregate(
      zip_with(ring, rotated(ring), (p, q) =>
        (p.getField("y") + q.getField("y")) *
          (p.getField("x") * q.getField("y") - q.getField("x") * p.getField("y"))),
      lit(0.0), (a, v) => a + v) / (lit(3.0) * a2)
    struct(cx.as("x"), cy.as("y"))
  }

  /** Literal ring column from coordinate pairs (array<struct<x,y>>,
    * no repeated closing vertex).
    */
  def ringLit(pts: Seq[(Double, Double)]): Column =
    array(pts.map { case (px, py) =>
      struct(lit(px).as("x"), lit(py).as("y"))
    }: _*)

  /** TRUE point-in-ring containment by ray casting (even-odd rule) —
    * the real polygon-clip math the reference applies when clipping
    * by country geometry (source.py:464-494), not a bbox or keyed
    * analogue. One pass over the ring's edges per point; pure column
    * math, no UDF.
    *
    * Uses the division-free cross-product form of the PNPOLY edge
    * test: `x < px + (qx-px)(y-py)/(qy-py)` is evaluated as a
    * sign-adjusted multiply, so no divide-by-zero semantics are
    * involved and every operation is plain IEEE double arithmetic —
    * exactly reproducible in the SQL oracle. Points exactly ON an
    * edge get a deterministic (side-dependent) answer, the standard
    * ray-casting contract.
    */
  def pointInRing(x: Column, y: Column, ring: Column): Column = {
    val crossings = aggregate(
      zip_with(ring, rotated(ring), (p, q) => {
        val px = p.getField("x"); val py = p.getField("y")
        val qx = q.getField("x"); val qy = q.getField("y")
        val straddles = (py > y) =!= (qy > y)
        val leftOfEdge = when(qy > py,
          (x - px) * (qy - py) < (qx - px) * (y - py))
          .otherwise((x - px) * (qy - py) > (qx - px) * (y - py))
        when(straddles && leftOfEdge, 1).otherwise(0)
      }),
      lit(0), (a, v) => a + v)
    crossings % 2 === 1
  }

  /** Point in a polygon with optional interior rings: inside the
    * outer ring and not inside any hole (even-odd rule).
    */
  def pointInPolygon(x: Column, y: Column, outer: Column, holes: Seq[Column] = Nil): Column =
    holes.foldLeft(pointInRing(x, y, outer))((acc, h) => acc && !pointInRing(x, y, h))

  /** Make-valid analogue of the reference's geometry rules
    * (transform.py:252-294 `enforce_geometry_rules`, :207-214
    * force-2D): drop an explicit closing vertex, collapse
    * consecutive duplicate vertices, and normalize winding to CCW
    * (reverse when the signed area is negative). Force-2D is
    * inherent here — the ring representation carries only x/y (the
    * WKB path drops Z the same way: WkbPointXY → WkbFromXY).
    */
  def normalizeRing(ring: Column): Column = {
    val opened = when(
      size(ring) > 1 && ring.getItem(0) === element_at(ring, -1),
      slice(ring, lit(1), size(ring) - 1)).otherwise(ring)
    // i is 0-based; element_at is 1-based, so element_at(opened, i)
    // IS the predecessor of element i.
    val dedup = filter(opened, (p, i) => i === 0 || p =!= element_at(opened, i))
    when(polygonArea(dedup) < 0, reverse(dedup)).otherwise(dedup)
  }

  /** Validity predicate over the NORMALIZED ring: at least 3 distinct
    * vertices and non-degenerate area (MIN_POLYGON_AREA rule,
    * transform.py:29).
    */
  def ringIsValid(ring: Column, minArea: Double = 1e-9): Column = {
    val n = normalizeRing(ring)
    size(n) >= 3 && abs(polygonArea(n)) > minArea
  }

  /** Polyline length per trajectory: consecutive-point segment
    * lengths summed in event order. One shuffle (window by key);
    * degenerate polylines below `minLength` dropped — the
    * MIN_LINE_LENGTH rule (transform.py:30).
    */
  def lineLength(
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      x: String,
      y: String,
      minLength: Double
  ): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    df.withColumn("_px", lag(col(x), 1).over(w))
      .withColumn("_py", lag(col(y), 1).over(w))
      .withColumn("_seg",
        when(col("_px").isNull, lit(0.0))
          .otherwise(euclid(col(x) - col("_px"), col(y) - col("_py"))))
      .groupBy(col(keyCol))
      .agg(round(sum(col("_seg")), 4).as("length"), count(lit(1)).as("n_points"))
      .filter(col("length") > minLength)
  }

  /** Spread the low 16 bits of `v` to the even bit positions of a
    * 32-bit word (the classic magic-number Morton dilation). Pure
    * shift/mask column math — codegen'd, no UDF.
    */
  private def spreadBits16(v: Column): Column = {
    val s8 = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s4 = (s8.bitwiseOR(shiftleft(s8, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s2 = (s4.bitwiseOR(shiftleft(s4, 2))).bitwiseAND(lit(0x33333333L))
    (s2.bitwiseOR(shiftleft(s2, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) key: quantize x/y onto a 2^16 × 2^16 grid over
    * the given frame (clamped at the edges) and interleave the bits.
    * Sorting or range-partitioning data by this key gives 2-D
    * locality in a 1-D order — at 100 TB, `writeRangeSorted` on the
    * z-key makes every file's footer min/max a tight spatial tile,
    * so a bbox query prunes to the handful of files whose z-ranges
    * intersect it instead of scanning the world. (The curve a lake
    * table's Z-ORDER clustering uses; Hilbert differs only in
    * constants.) Quantization uses floor, so an engine that rounds
    * double→int casts differently computes the identical key.
    */
  def mortonKey(
      x: Column,
      y: Column,
      xmin: Double,
      ymin: Double,
      xmax: Double,
      ymax: Double
  ): Column = {
    val scale = (1L << 16) - 1
    def quant(c: Column, lo: Double, hi: Double): Column =
      least(greatest(floor((c - lo) / (hi - lo) * scale), lit(0L)), lit(scale))
    spreadBits16(quant(x, xmin, xmax))
      .bitwiseOR(shiftleft(spreadBits16(quant(y, ymin, ymax)), 1))
  }

  /** Spread the low 32 bits of a long so bit i lands at bit 2i —
    * the 64-bit extension of [[spreadBits16]] for curves needing
    * more than 16 bits per axis (geohash's 20).
    */
  private def spreadBits32(v: Column): Column = {
    val s16 = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val s8 = (s16.bitwiseOR(shiftleft(s16, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val s4 = (s8.bitwiseOR(shiftleft(s8, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val s2 = (s4.bitwiseOR(shiftleft(s4, 2))).bitwiseAND(lit(0x3333333333333333L))
    (s2.bitwiseOR(shiftleft(s2, 1))).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Geohash base-32 alphabet (no a/i/l/o). */
  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** The 40-bit geohash-8 integer key: lon and lat quantized onto
    * 2^20 cells of their full WGS84 ranges and bit-interleaved
    * MSB-first with longitude leading — exactly the bit stream the
    * standard geohash encoder produces for an even-length hash.
    */
  def geohashKey(lat: Column, lon: Column): Column = {
    def cell(c: Column, lo: Double, hi: Double): Column =
      least(greatest(floor((c - lo) / (hi - lo) * (1L << 20).toDouble), lit(0L)),
        lit((1L << 20) - 1L)).cast("long")
    shiftleft(spreadBits32(cell(lon, -180.0, 180.0)), 1)
      .bitwiseOR(spreadBits32(cell(lat, -90.0, 90.0)))
  }

  /** 8-character geohash of a WGS84 point — the grid key gazetteers
    * and tile caches bucket by (~±19 m cells). Closed-form column
    * math: interleaved 40-bit key, then eight 5-bit base-32 digits;
    * codegen throughout, so at 100 TB this is scan-speed keying for
    * a spatial groupBy/bucketing without any geometry library.
    */
  def geohash(lat: Column, lon: Column): Column = {
    val key = geohashKey(lat, lon)
    val chars = (0 until 8).map { j =>
      val idx = shiftright(key, 35 - 5 * j).bitwiseAND(lit(31L))
      lit(GeohashAlphabet).substr((idx + lit(1L)).cast("int"), lit(1))
    }
    concat(chars: _*)
  }
}
