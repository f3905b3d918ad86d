package graft.`export`

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.ByteBuffer

import com.google.flatbuffers.FlatBufferBuilder

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.functions.Wkb

/** FlatGeobuf writer — the reference's `fgb` direct-export format
  * (reference: src/o2agol/pipeline/source.py:631 maps 'fgb' →
  * 'FlatGeobuf'), written from the PUBLIC spec
  * (github.com/flatgeobuf/flatgeobuf, v3 binary layout) with the
  * real flatbuffers runtime (`com.google.flatbuffers`, on the Spark
  * classpath via Arrow). No generated schema classes: tables are
  * emitted through the builder's low-level slot API with the spec's
  * field ids — Header (name=0, envelope=1, geometry_type=2, …,
  * features_count=8, index_node_size=9), Feature (geometry=0,
  * properties=1), Geometry (ends=0, xy=1, type=6), Column (name=0,
  * type=1).
  *
  * Layout written: 8-byte magic `fgb\x03fgb\x01`, size-prefixed
  * Header flatbuffer (features_count, envelope and geometry type
  * folded from the features as they stream to a spool, so no
  * pre-pass reads the input; index_node_size = 0 unless the caller
  * asks for the optional index), then one size-prefixed Feature
  * flatbuffer per row with the spec's properties encoding (LE u16
  * column index + fixed-width value / u32-length-prefixed UTF-8).
  *
  * Scale note: single-file format with a global header ⇒ driver-
  * streamed `toLocalIterator` (the H6/H18 convention); the
  * distributed big-export path remains GeoParquet (H17).
  */
object FlatGeobuf {

  final case class WriteResult(
      path: String, rows: Long,
      bbox: (Double, Double, Double, Double), geometryType: Int)

  val Magic: Array[Byte] =
    Array(0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x01).map(_.toByte)

  private val GtPolygon = 3 // spec geometry-type id (= the WKB base id)

  // spec ColumnType ids
  private[export] def columnType(dt: DataType): Byte = dt match {
    case BooleanType => 2
    case IntegerType | ShortType | ByteType => 5
    case LongType => 7
    case FloatType => 9
    case DoubleType => 10
    case StringType => 11
    case TimestampType | TimestampNTZType => 13 // DateTime: ISO-8601 text
    case other =>
      throw new graft.ExportError(
        s"flatgeobuf: unsupported attribute type ${other.simpleString}",
        Map("format" -> "fgb", "stage" -> "export"))
  }

  /** Encodes rows as size-prefixed Feature flatbuffers into one reused
    * builder and properties buffer; folds the header's count, geometry
    * type and envelope over them.
    */
  private final class Features(attrs: Array[(StructField, Int)], gIdx: Int) {
    private val fb = new FlatBufferBuilder(512)
    private var props = ByteBuffer.allocate(256).order(java.nio.ByteOrder.LITTLE_ENDIAN)

    var count = 0L
    var geometryType = 0
    // envelope of the exterior rings (the `wkbCoords` points) under
    // Spark's double ordering, where NaN is the greatest value
    private var hasEnvelope = false
    private val env = new Array[Double](4)

    def bbox: (Double, Double, Double, Double) =
      if (hasEnvelope) (env(0), env(1), env(2), env(3)) else (0.0, 0.0, 0.0, 0.0)

    /** Encode `row` into `out`; returns the bytes written. */
    def write(row: org.apache.spark.sql.Row, out: java.io.OutputStream): Int = {
      val g = Writers.rings(row.getAs[Array[Byte]](gIdx), "fgb")
      fb.clear()
      encodeProps(row)
      val propsOff = if (props.position() == 0) 0 else fb.createByteVector(props.array(), 0, props.position())
      val geomOff = buildGeometry(g)
      fb.startTable(3)
      fb.addOffset(0, geomOff, 0)
      if (propsOff != 0) fb.addOffset(1, propsOff, 0)
      fb.finishSizePrefixed(fb.endTable())
      fold(g)
      writeBuf(out, fb.dataBuffer())
    }

    private def fold(g: Wkb.Rings): Unit = {
      if (count == 0) geometryType = g.kind
      else if (g.kind != geometryType)
        throw new graft.ExportError(
          s"flatgeobuf: mixed geometry types $geometryType and ${g.kind} (spec header declares ONE)",
          Map("format" -> "fgb", "stage" -> "export"))
      count += 1
      if (g.rings.nonEmpty) {
        val r = g.rings(0)
        var i = 0
        while (i < r.length) {
          val x = r(i); val y = r(i + 1)
          if (!hasEnvelope) { env(0) = x; env(1) = y; env(2) = x; env(3) = y; hasEnvelope = true }
          else {
            if (before(x, env(0))) env(0) = x
            if (before(y, env(1))) env(1) = y
            if (before(env(2), x)) env(2) = x
            if (before(env(3), y)) env(3) = y
          }
          i += 2
        }
      }
    }

    private def before(a: Double, b: Double): Boolean = !a.isNaN && (b.isNaN || a < b)

    /** Geometry table: ends (slot 0, [uint], ring end indices — only
      * for multi-ring polygons), xy (slot 1, [double]), type (slot 6,
      * ubyte).
      */
    private def buildGeometry(g: Wkb.Rings): Int = {
      val rings = g.rings
      var nXy = 0
      rings.foreach(r => nXy += r.length)
      // vectors before table; scalar elements added in reverse
      fb.startVector(8, nXy, 8)
      var r = rings.length - 1
      while (r >= 0) {
        var i = rings(r).length - 1
        while (i >= 0) { fb.addDouble(rings(r)(i)); i -= 1 }
        r -= 1
      }
      val xyOff = fb.endVector()
      val endsOff =
        if (g.kind == GtPolygon && rings.length > 1) {
          fb.startVector(4, rings.length, 4)
          var end = nXy / 2
          var i = rings.length - 1
          while (i >= 0) { fb.addInt(end); end -= rings(i).length / 2; i -= 1 }
          fb.endVector()
        } else 0
      require(nXy > 0, "empty geometry")
      fb.startTable(8)
      if (endsOff != 0) fb.addOffset(0, endsOff, 0)
      fb.addOffset(1, xyOff, 0)
      fb.addByte(6, g.kind.toByte, 0)
      fb.endTable()
    }

    /** Spec properties encoding: LE u16 column index, then the value
      * (fixed width for scalars, u32-len-prefixed UTF-8 for strings);
      * null columns simply absent.
      */
    private def encodeProps(row: org.apache.spark.sql.Row): Unit = {
      props.clear()
      var ci = 0
      while (ci < attrs.length) {
        val (f, ri) = attrs(ci)
        if (!row.isNullAt(ri)) {
          room(2 + 8)
          props.putShort(ci.toShort)
          f.dataType match {
            case BooleanType => props.put((if (row.getBoolean(ri)) 1 else 0).toByte)
            case IntegerType => props.putInt(row.getInt(ri))
            case ShortType => props.putInt(row.getShort(ri))
            case ByteType => props.putInt(row.getByte(ri))
            case LongType => props.putLong(row.getLong(ri))
            case FloatType => props.putInt(java.lang.Float.floatToIntBits(row.getFloat(ri)))
            case DoubleType => props.putLong(java.lang.Double.doubleToLongBits(row.getDouble(ri)))
            case StringType => text(row.getString(ri))
            case TimestampType | TimestampNTZType => text(Writers.isoMicros(row.get(ri)))
            case other => throw new IllegalStateException(s"unreachable: $other")
          }
        }
        ci += 1
      }
    }

    private def text(s: String): Unit = {
      val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      room(4 + bs.length)
      props.putInt(bs.length).put(bs)
    }

    private def room(n: Int): Unit = if (props.remaining < n)
      props = ByteBuffer.allocate(2 * (props.position() + n)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put(props.flip())
  }

  /** Column table: name (slot 0), type (slot 1, ubyte, default 0 =
    * Byte — always written explicitly).
    */
  private def buildColumn(b: FlatBufferBuilder, name: String, t: Byte): Int = {
    require(t != 0, "ColumnType 0 (Byte) is never emitted by this writer")
    val nameOff = b.createString(name)
    b.startTable(10)
    b.addOffset(0, nameOff, 0)
    b.addByte(1, t, 0)
    b.endTable()
  }

  /** Write `df` (binary WKB column `wkbCol`, uniform geometry type)
    * as a FlatGeobuf file at `path`, reading `df` once: features
    * stream to a spool beside `path` while the header's count,
    * envelope and type are folded from them, then the magic, header,
    * optional index and spool are written to `path`.
    *
    * `indexNodeSize` > 0 also writes the spec's OPTIONAL packed
    * Hilbert R-tree (spec default node size 16): an extent aggregate
    * places each bbox center on the curve, a DISTRIBUTED Spark sort
    * orders the rows by it, and the driver keeps 40 bytes of node
    * state per feature (the .shx table's order of size), so a reader
    * can seek features by bbox ([[graft.sources.FlatGeobufReader]]).
    */
  def write(df: DataFrame, wkbCol: String, path: String): WriteResult =
    write(df, wkbCol, path, 0)

  def write(df: DataFrame, wkbCol: String, path: String, indexNodeSize: Int): WriteResult = {
    val schema = df.schema
    val gIdx = Writers.wkbColumn(schema, wkbCol, "fgb")
    val attrs = schema.fields.zipWithIndex.filter(_._2 != gIdx)
    attrs.foreach { case (f, _) => columnType(f.dataType) } // validate up front

    val target = java.nio.file.Paths.get(path).toAbsolutePath
    val spool = java.nio.file.Files.createTempFile(target.getParent, s".${target.getFileName}.", ".spool")
    try {
      val features = new Features(attrs, gIdx)
      val items = scala.collection.mutable.ArrayBuffer.empty[PackedRTree.Item]
      val data = new BufferedOutputStream(new FileOutputStream(spool.toFile), 1 << 16)
      val nBase = schema.fields.length
      try {
        val rows =
          if (indexNodeSize == 0) df.toLocalIterator().asScala
          else hilbertSorted(df, wkbCol).toLocalIterator
        var offset = 0L
        while (rows.hasNext) {
          val row = rows.next()
          val len = features.write(row, data)
          // 40 bytes of node state per feature (same order as the .shx offset table)
          if (indexNodeSize != 0) items += PackedRTree.Item(row.getDouble(nBase),
            row.getDouble(nBase + 1), row.getDouble(nBase + 2), row.getDouble(nBase + 3), offset)
          offset += len
        }
      } catch {
        // Spark wraps the Hilbert mapper's typed error, at the sort's
        // sampling job and at the stream alike
        case t: Throwable => throw unwrapExportError(t)
      } finally data.close()

      // index only makes sense with features to index
      val nodeSize = if (features.count > 0) indexNodeSize else 0
      val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
      try {
        out.write(Magic)
        writeBuf(out, header(target, attrs, features, nodeSize))
        if (nodeSize > 0) out.write(PackedRTree.build(items.toIndexedSeq, nodeSize))
        java.nio.file.Files.copy(spool, out)
      } finally out.close()
      WriteResult(path, features.count, features.bbox, features.geometryType)
    } finally java.nio.file.Files.deleteIfExists(spool)
  }

  /** The size-prefixed Header flatbuffer. */
  private def header(
      target: java.nio.file.Path, attrs: Array[(StructField, Int)],
      features: Features, nodeSize: Int): ByteBuffer = {
    val hb = new FlatBufferBuilder(1024)
    val nameOff = hb.createString(target.getFileName.toString.stripSuffix(".fgb"))
    val envOff = {
      val (xmin, ymin, xmax, ymax) = features.bbox
      hb.startVector(8, 4, 8)
      Seq(ymax, xmax, ymin, xmin).foreach(hb.addDouble)
      hb.endVector()
    }
    val colOffs = attrs.map { case (f, _) => buildColumn(hb, f.name, columnType(f.dataType)) }
    val colsVec = {
      hb.startVector(4, colOffs.length, 4)
      colOffs.reverseIterator.foreach(o => hb.addOffset(o))
      hb.endVector()
    }
    hb.startTable(14)
    hb.addOffset(0, nameOff, 0)
    hb.addOffset(1, envOff, 0)
    hb.addByte(2, features.geometryType.toByte, 0)
    hb.addOffset(7, colsVec, 0)
    hb.addLong(8, features.count, 0)
    hb.addShort(9, nodeSize.toShort, 16) // 0 = no index; spec default 16
    hb.finishSizePrefixed(hb.endTable())
    hb.dataBuffer()
  }

  /** `df`'s rows plus their bbox (_minx, _miny, _maxx, _maxy after
    * the input columns), sorted on the Hilbert key of the bbox center
    * over the extent of all bboxes.
    */
  private def hilbertSorted(df: DataFrame, wkbCol: String): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions._
    val schema = df.schema
    val base = schema.fields.map(f => col(f.name))
    val nBase = schema.fields.length
    val bboxed = df
      .select(base :+ Wkb.wkbCoords(col(wkbCol)).as("_ps"): _*)
      .select(base :+
        array_min(transform(col("_ps"), p => p("x"))).as("_minx") :+
        array_min(transform(col("_ps"), p => p("y"))).as("_miny") :+
        array_max(transform(col("_ps"), p => p("x"))).as("_maxx") :+
        array_max(transform(col("_ps"), p => p("y"))).as("_maxy"): _*)
    val e = bboxed.agg(min(col("_minx")), min(col("_miny")), max(col("_maxx")), max(col("_maxy"))).head()
    val ext =
      if (e.isNullAt(0)) (0.0, 0.0, 0.0, 0.0)
      else (e.getDouble(0), e.getDouble(1), e.getDouble(2), e.getDouble(3))
    // A geometry with no coordinates has no bbox (array_min/max
    // null) and cannot be Hilbert-ordered; the unindexed path can
    // carry it, so rather than forking behavior silently, refuse
    // with the writer's typed error. The check rides INSIDE the
    // Hilbert-key mapper (not a separate filter+head pre-pass,
    // which would re-scan the whole input just for the common
    // all-valid case).
    val keyName = schema.fields.head.name
    bboxed.rdd
      .map { row =>
        if (row.isNullAt(nBase))
          throw new graft.ExportError(
            "flatgeobuf indexed write: geometry with no coordinates has no " +
              "bbox and cannot be placed in the Hilbert index; write with " +
              "indexNodeSize=0 or drop the row",
            Map("format" -> "fgb", "stage" -> "export",
              "row" -> s"$keyName=${row.get(0)}"))
        val key = PackedRTree.hilbertOf(row.getDouble(nBase), row.getDouble(nBase + 1),
          row.getDouble(nBase + 2), row.getDouble(nBase + 3), ext)
        (key, row)
      }
      .sortByKey()
      .map(_._2)
  }

  /** Walk a (possibly Spark-wrapped) cause chain back to the typed
    * export error thrown in an executor mapper; return the original
    * throwable when none is found.
    */
  private def unwrapExportError(t: Throwable): Throwable = {
    var cur: Throwable = t
    while (cur != null) {
      cur match {
        case e: graft.ExportError => return e
        case _ => cur = cur.getCause
      }
    }
    t
  }

  /** Write a builder's finished bytes without a copy; returns their length. */
  private def writeBuf(out: java.io.OutputStream, buf: ByteBuffer): Int = {
    out.write(buf.array(), buf.arrayOffset() + buf.position(), buf.remaining())
    buf.remaining()
  }
}
