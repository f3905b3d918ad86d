package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** WKB (well-known binary) geometry support — the wire format the
  * reference's geometry column carries (reference:
  * src/o2agol/pipeline/source.py:736-750 converts WKB bytes via
  * shapely; transform.py:207-214 round-trips WKB to force 2D).
  *
  * Native Catalyst expressions with codegen: a WKB parse per row is
  * scan-path work, so it must stay inside whole-stage codegen.
  */
object Wkb {

  /** Little-endian 2D point → 21-byte WKB. */
  def encodePoint(bytes: (Double, Double)): Array[Byte] =
    encodePointXY(bytes._1, bytes._2)

  /** Two-arg form (also the codegen entry point — static forwarder
    * callable from generated Java).
    */
  def encodePointXY(x: Double, y: Double): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
    buf.array()
  }

  def wkbPointXY(c: Column): Column =
    GraftBridge.column(WkbPointXY(GraftBridge.expression(c)))

  def wkbGeometryType(c: Column): Column =
    GraftBridge.column(WkbGeometryType(GraftBridge.expression(c)))

  /** Column-level point ENCODER: (x, y) doubles → 21-byte LE WKB
    * (the inverse of [[wkbPointXY]]; feeds the GPKG writer).
    */
  def wkbFromXY(x: Column, y: Column): Column =
    GraftBridge.column(WkbFromXY(GraftBridge.expression(x), GraftBridge.expression(y)))

  /** array<struct<x,y>> → WKB LineString (type 2, LE). */
  def wkbLineFromCoords(pts: Column): Column =
    GraftBridge.column(WkbLineFromCoords(GraftBridge.expression(pts)))

  /** array<struct<x,y>> → WKB Polygon (type 3, LE, single exterior
    * ring). The ring is CLOSED on encode (first vertex re-appended
    * when absent) — real WKB polygons carry the closing vertex, which
    * is exactly what the reference's make-valid rules must strip
    * back off (transform.py:252-294).
    */
  def wkbPolygonFromCoords(pts: Column): Column =
    GraftBridge.column(WkbPolygonFromCoords(GraftBridge.expression(pts)))

  /** WKB blob → array<struct<x,y>>: the point for Point, all
    * vertices for LineString, the EXTERIOR ring (closing vertex
    * included, as stored) for Polygon. Null on any other type or
    * malformed bytes.
    */
  def wkbCoords(c: Column): Column =
    GraftBridge.column(WkbCoords(GraftBridge.expression(c)))

  /** Header-only vertex count (no coordinate materialization):
    * 1 for Point, n for LineString, exterior-ring n for Polygon.
    */
  def wkbNumPoints(c: Column): Column =
    GraftBridge.column(WkbNumPoints(GraftBridge.expression(c)))

  // ---- static codegen entry points (callable from generated Java) ----

  /** LineString from parallel coordinate structs. */
  def encodeLineCoords(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val buf = java.nio.ByteBuffer.allocate(9 + 16 * n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(2).putInt(n)
    var i = 0
    while (i < n) {
      val p = arr.getStruct(i, 2)
      buf.putDouble(p.getDouble(0)).putDouble(p.getDouble(1))
      i += 1
    }
    buf.array()
  }

  /** Polygon (single exterior ring) from coordinate structs; closes
    * the ring when the caller passed it open.
    */
  def encodePolygonCoords(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val closed = n > 0 && {
      val f = arr.getStruct(0, 2); val l = arr.getStruct(n - 1, 2)
      f.getDouble(0) == l.getDouble(0) && f.getDouble(1) == l.getDouble(1)
    }
    val m = if (closed) n else n + 1
    val buf = java.nio.ByteBuffer.allocate(13 + 16 * m).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(3).putInt(1).putInt(m)
    var i = 0
    while (i < n) {
      val p = arr.getStruct(i, 2)
      buf.putDouble(p.getDouble(0)).putDouble(p.getDouble(1))
      i += 1
    }
    if (!closed && n > 0) {
      val f = arr.getStruct(0, 2)
      buf.putDouble(f.getDouble(0)).putDouble(f.getDouble(1))
    }
    buf.array()
  }

  /** Parse the 4-byte type word (buffer positioned just past the
    * byte-order marker) and consume any EWKB SRID payload.
    *
    * Both dimensional conventions are honored: ISO-WKB adds
    * +1000/+2000/+3000 to the type for Z/M/ZM; EWKB sets flag bits
    * 0x80000000 (Z) / 0x40000000 (M), and 0x20000000 flags a 4-byte
    * SRID that FOLLOWS the type word — masking the flag without
    * skipping the payload (the pre-round-8 bug) shifted every
    * subsequent read by 4 bytes and produced silently wrong
    * coordinates instead of null.
    *
    * @return packed `(baseType << 3) | coordDims`, or -1 when the
    *         word is malformed (trailing SRID missing, ISO dim code
    *         out of range).
    */
  private def parseTypeWord(buf: java.nio.ByteBuffer): Int = {
    val raw = buf.getInt
    val hasZ = (raw & 0x80000000) != 0
    val hasM = (raw & 0x40000000) != 0
    val hasSrid = (raw & 0x20000000) != 0
    val iso = raw & 0x0FFFFFFF
    val isoDim = iso / 1000 // 0 plain, 1 Z, 2 M, 3 ZM
    if (isoDim > 3) return -1
    val dims = 2 +
      (if (hasZ || isoDim == 1 || isoDim == 3) 1 else 0) +
      (if (hasM || isoDim == 2 || isoDim == 3) 1 else 0)
    if (hasSrid) {
      if (buf.remaining < 4) return -1
      buf.getInt // skip the SRID payload
    }
    ((iso % 1000) << 3) | dims
  }

  /** Decode Point / LineString / Polygon-exterior-ring vertices as
    * their 2D (x, y) projection — Z/M ordinates are read with the
    * correct per-point stride and dropped, matching the reference's
    * force-2D round-trip (transform.py:207-214). Null (not an error)
    * on other types or malformed buffers, so a mixed-geometry scan
    * can route rows by [[WkbGeometryType]].
    */
  def decodeCoords(bytes: Array[Byte]): ArrayData = {
    if (bytes == null || bytes.length < 5) return null
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.order(if (bytes(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    buf.position(1)
    val packed = parseTypeWord(buf)
    if (packed < 0) return null
    val stride = (packed & 7) * 8
    val skip = stride - 16
    def readVertex(): GenericInternalRow = {
      val r = new GenericInternalRow(Array[Any](buf.getDouble, buf.getDouble))
      if (skip > 0) buf.position(buf.position() + skip)
      r
    }
    def readRing(n: Int): GenericArrayData = {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) { out(i) = readVertex(); i += 1 }
      new GenericArrayData(out)
    }
    (packed >> 3) match {
      case 1 =>
        if (buf.remaining < stride) null
        else new GenericArrayData(Array[Any](readVertex()))
      case 2 =>
        if (buf.remaining < 4) return null
        val n = buf.getInt
        if (n < 0 || buf.remaining.toLong < stride.toLong * n) null
        else readRing(n)
      case 3 =>
        if (buf.remaining < 8) return null
        val rings = buf.getInt
        if (rings < 1) return null
        val n = buf.getInt
        if (n < 0 || buf.remaining.toLong < stride.toLong * n) null
        else readRing(n)
      case _ => null
    }
  }

  /** A geometry as its base type and 2D rings, each ring interleaved
    * x0, y0, x1, y1, …; a Point or LineString is one ring.
    */
  private[graft] final case class Rings(kind: Int, rings: Array[Array[Double]])

  /** Decode a Point / LineString / Polygon blob, every polygon ring
    * included, for the driver-side file writers (Shapefile,
    * FlatGeobuf). SRID payloads are skipped and Z/M ordinates dropped
    * as in [[decodeCoords]]. None on other types or malformed buffers.
    */
  private[graft] def decodeRings(bytes: Array[Byte]): Option[Rings] = {
    if (bytes == null || bytes.length < 5) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.order(if (bytes(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    buf.position(1)
    val packed = parseTypeWord(buf)
    if (packed < 0) return None
    val stride = (packed & 7) * 8
    def count(): Int = { require(buf.remaining >= 4); buf.getInt }
    def ring(n: Int): Array[Double] = {
      require(n >= 0 && buf.remaining.toLong >= stride.toLong * n)
      val a = new Array[Double](2 * n)
      var i = 0
      while (i < n) {
        a(2 * i) = buf.getDouble
        a(2 * i + 1) = buf.getDouble
        buf.position(buf.position() + stride - 16)
        i += 1
      }
      a
    }
    try (packed >> 3) match {
      case 1 => Some(Rings(1, Array(ring(1))))
      case 2 => Some(Rings(2, Array(ring(count()))))
      case 3 =>
        val n = count()
        require(n >= 0 && n <= buf.remaining / 4)
        Some(Rings(3, Array.fill(n)(ring(count()))))
      case _ => None
    } catch { case _: IllegalArgumentException => None }
  }

  /** Column form of [[pathLength]]. */
  def wkbPathLength(c: Column): Column =
    GraftBridge.column(WkbPathLength(GraftBridge.expression(c)))

  /** Sequential 2D path length of the blob's vertex run — Point → 0,
    * LineString → sum of segment lengths, Polygon → exterior-ring
    * perimeter as stored (closing vertex included). One parse + one
    * fold per row with NO coordinate materialization: the
    * composed form (`aggregate(transform(sequence(...)))` over
    * [[decodeCoords]]) allocates two arrays per row and interprets
    * its lambdas per element (higher-order functions are
    * CodegenFallback), which made the WKB length row a bench top-8
    * entry. The fold is left-to-right from 0.0 — the SAME IEEE
    * addition order as the HOF twin, so results are bit-identical.
    *
    * -1.0 signals malformed/unsupported (mapped to SQL null by
    * [[WkbPathLength]]; a real path length is never negative).
    * Genuinely-NaN coordinates fold to NaN and are RETURNED as NaN —
    * the HOF twin yields NaN there too, and Spark ranks NaN above
    * every numeric, so a `length > ε` filter KEEPS such rows on both
    * paths; mapping them to null instead would silently drop them.
    */
  def pathLength(bytes: Array[Byte]): Double = {
    if (bytes == null || bytes.length < 5) return -1.0
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.order(if (bytes(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    buf.position(1)
    val packed = parseTypeWord(buf)
    if (packed < 0) return -1.0
    val stride = (packed & 7) * 8
    val skip = stride - 16
    val n = (packed >> 3) match {
      case 1 => if (buf.remaining >= stride) 1 else return -1.0
      case 2 =>
        if (buf.remaining < 4) return -1.0
        val k = buf.getInt
        if (k < 0 || buf.remaining.toLong < stride.toLong * k) return -1.0
        k
      case 3 =>
        if (buf.remaining < 8) return -1.0
        if (buf.getInt < 1) return -1.0
        val k = buf.getInt
        if (k < 0 || buf.remaining.toLong < stride.toLong * k) return -1.0
        k
      case _ => return -1.0
    }
    var sum = 0.0
    var px = 0.0
    var py = 0.0
    var i = 0
    while (i < n) {
      val x = buf.getDouble
      val y = buf.getDouble
      if (skip > 0) buf.position(buf.position() + skip)
      if (i > 0) {
        val dx = x - px
        val dy = y - py
        sum += math.sqrt(dx * dx + dy * dy)
      }
      px = x; py = y
      i += 1
    }
    sum
  }

  /** Column form of [[ringStats]]. */
  def wkbRingStats(c: Column): Column =
    GraftBridge.column(WkbRingStats(GraftBridge.expression(c)))

  /** Shoelace statistics of the blob's vertex ring in ONE pass:
    * struct(area, cx, cy) — signed area and true area centroid of
    * the 2D-projected exterior ring, the closing vertex stripped
    * when present (first == last), exactly the decode → strip →
    * three-HOF-fold composition the WKB centroid row ran
    * (`Geo.polygonArea`/`polygonCentroid` over `WkbCoords`). Each
    * fold is left-to-right over the SAME cyclic cross-term order
    * (p_i × p_{i+1}, wrapping), and the centroid divisions keep the
    * `sum / (3.0 * a2)` association — results are bit-identical to
    * the composed form, including the IEEE ±Inf/NaN centroid of a
    * zero-area ring (callers filter on |area| first, as the HOF
    * path did). Null on malformed/unsupported blobs.
    */
  def ringStats(bytes: Array[Byte]): GenericInternalRow = {
    val coords = decodeCoords(bytes)
    if (coords == null) return null
    var n = coords.numElements()
    if (n > 1) {
      val f = coords.getStruct(0, 2)
      val l = coords.getStruct(n - 1, 2)
      if (f.getDouble(0) == l.getDouble(0) && f.getDouble(1) == l.getDouble(1)) n -= 1
    }
    var a2 = 0.0 // Σ cross terms = 2·area
    var sx = 0.0
    var sy = 0.0
    var i = 0
    while (i < n) {
      val p = coords.getStruct(i, 2)
      val q = coords.getStruct(if (i + 1 == n) 0 else i + 1, 2)
      val cross = p.getDouble(0) * q.getDouble(1) - q.getDouble(0) * p.getDouble(1)
      a2 += cross
      sx += (p.getDouble(0) + q.getDouble(0)) * cross
      sy += (p.getDouble(1) + q.getDouble(1)) * cross
      i += 1
    }
    new GenericInternalRow(Array[Any](a2 / 2.0, sx / (3.0 * a2), sy / (3.0 * a2)))
  }

  /** Header-only vertex count; -1 signals malformed/unsupported
    * (mapped to SQL null by [[WkbNumPoints]]). SRID payloads are
    * skipped and Z/M strides honored exactly as in [[decodeCoords]].
    */
  def numPoints(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length < 5) return -1
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.order(if (bytes(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    buf.position(1)
    val packed = parseTypeWord(buf)
    if (packed < 0) return -1
    val stride = (packed & 7) * 8
    (packed >> 3) match {
      case 1 => if (buf.remaining >= stride) 1 else -1
      case 2 =>
        if (buf.remaining < 4) -1
        else {
          val n = buf.getInt
          if (n >= 0 && buf.remaining.toLong >= stride.toLong * n) n else -1
        }
      case 3 =>
        if (buf.remaining < 8) -1
        else {
          val rings = buf.getInt
          if (rings < 1) -1
          else {
            val n = buf.getInt
            if (n >= 0 && buf.remaining.toLong >= stride.toLong * n) n else -1
          }
        }
      case _ => -1
    }
  }
}

/** Shared shape of the coordinate-array WKB encoders. */
abstract class WkbCoordsEncoder extends UnaryExpression {
  override def dataType: DataType = BinaryType

  protected def encoderMethod: String // static method name on graft.functions.Wkb

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(fields), _)
          if fields.length == 2 && fields.forall(_.dataType == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<struct<x:double,y:double>>, got ${other.simpleString}")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Wkb.$encoderMethod($c);")
}

/** array<struct<x,y>> → WKB LineString (LE). */
case class WkbLineFromCoords(child: Expression) extends WkbCoordsEncoder {
  override protected def encoderMethod: String = "encodeLineCoords"
  override def nullSafeEval(input: Any): Any =
    Wkb.encodeLineCoords(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): WkbLineFromCoords =
    copy(child = newChild)
}

/** array<struct<x,y>> → WKB Polygon (LE, ring closed on encode). */
case class WkbPolygonFromCoords(child: Expression) extends WkbCoordsEncoder {
  override protected def encoderMethod: String = "encodePolygonCoords"
  override def nullSafeEval(input: Any): Any =
    Wkb.encodePolygonCoords(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): WkbPolygonFromCoords =
    copy(child = newChild)
}

/** Decode Point/LineString/Polygon WKB vertices into
  * array<struct<x,y>> (Polygon → exterior ring as stored, closing
  * vertex included). Scan-path work — stays inside whole-stage
  * codegen via a single static call per row.
  */
case class WkbCoords(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType))))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    Wkb.decodeCoords(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.Wkb.decodeCoords($c);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): WkbCoords =
    copy(child = newChild)
}

/** Header-only WKB vertex count (null on malformed/unsupported). */
case class WkbNumPoints(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val n = Wkb.numPoints(input.asInstanceOf[Array[Byte]])
    if (n < 0) null else java.lang.Integer.valueOf(n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      s"""
         |int $n = graft.functions.Wkb.numPoints($c);
         |if ($n < 0) { ${ev.isNull} = true; } else { ${ev.value} = $n; }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WkbNumPoints =
    copy(child = newChild)
}

/** Single-pass 2D path length of a WKB blob's vertex run (null on
  * malformed/unsupported — see [[Wkb.pathLength]]). Scan-path work
  * inside whole-stage codegen: one static call per row, no
  * coordinate arrays, no interpreted HOF lambdas.
  */
case class WkbPathLength(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = Wkb.pathLength(input.asInstanceOf[Array[Byte]])
    if (v == -1.0) null else java.lang.Double.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("len")
      s"""
         |double $v = graft.functions.Wkb.pathLength($c);
         |if ($v == -1.0D) { ${ev.isNull} = true; } else { ${ev.value} = $v; }
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WkbPathLength =
    copy(child = newChild)
}

/** One-pass shoelace area + centroid of a WKB blob's vertex ring
  * (null on malformed/unsupported — see [[Wkb.ringStats]]). Replaces
  * a decode plus THREE interpreted HOF folds (area, cx, cy each
  * re-walked the ring) with one static call inside whole-stage
  * codegen.
  */
case class WkbRingStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("area", DoubleType),
    StructField("cx", DoubleType),
    StructField("cy", DoubleType)))
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    Wkb.ringStats(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.Wkb.ringStats($c);
         |${ev.isNull} = ${ev.value} == null;
         |""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): WkbRingStats =
    copy(child = newChild)
}

/** Encode (x, y) doubles as a little-endian 2D-point WKB. */
case class WkbFromXY(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wkb_from_xy requires (double, double), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(x: Any, y: Any): Any =
    Wkb.encodePoint((x.asInstanceOf[Double], y.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.Wkb.encodePointXY($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): WkbFromXY =
    copy(left = newLeft, right = newRight)
}

/** Decode a WKB 2D Point into struct(x, y). Honors the byte-order
  * marker; nulls (rather than errors) on non-point geometries so a
  * mixed-geometry scan can filter by [[WkbGeometryType]] first.
  */
case class WkbPointXY(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType)))

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (bytes.length < 21) null
    else {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      buf.order(if (bytes(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
      buf.position(1)
      if (buf.getInt != 1) null
      else new GenericInternalRow(Array[Any](buf.getDouble, buf.getDouble))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val buf = ctx.freshName("buf")
      s"""
         |if ($c.length < 21) {
         |  ${ev.isNull} = true;
         |} else {
         |  java.nio.ByteBuffer $buf = java.nio.ByteBuffer.wrap($c);
         |  $buf.order($c[0] == (byte) 1 ? java.nio.ByteOrder.LITTLE_ENDIAN : java.nio.ByteOrder.BIG_ENDIAN);
         |  $buf.position(1);
         |  if ($buf.getInt() != 1) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |      new Object[] { $buf.getDouble(), $buf.getDouble() });
         |  }
         |}
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WkbPointXY =
    copy(child = newChild)
}

/** WKB geometry type code (1 Point … 6 MultiPolygon, 7 Collection);
  * null on malformed input. Drives the geometry-family split on raw
  * WKB columns.
  */
case class WkbGeometryType(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (bytes.length < 5) null
    else {
      val buf = java.nio.ByteBuffer.wrap(bytes)
      buf.order(if (bytes(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
      buf.position(1)
      // Strip EWKB flag bits (Z/M/SRID high bits), then the ISO-WKB
      // +1000/+2000/+3000 Z/M/ZM offsets: 1001 (PointZ) → 1.
      java.lang.Integer.valueOf((buf.getInt & 0x0FFFFFFF) % 1000)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val buf = ctx.freshName("buf")
      s"""
         |if ($c.length < 5) {
         |  ${ev.isNull} = true;
         |} else {
         |  java.nio.ByteBuffer $buf = java.nio.ByteBuffer.wrap($c);
         |  $buf.order($c[0] == (byte) 1 ? java.nio.ByteOrder.LITTLE_ENDIAN : java.nio.ByteOrder.BIG_ENDIAN);
         |  $buf.position(1);
         |  ${ev.value} = ($buf.getInt() & 0x0FFFFFFF) % 1000;
         |}
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WkbGeometryType =
    copy(child = newChild)
}
