package graft.`export`

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** ESRI Shapefile writer — pure JVM, from the PUBLIC spec ("ESRI
  * Shapefile Technical Description", ESRI whitepaper, July 1998; the
  * same format GDAL's 'ESRI Shapefile' driver writes). Closes the
  * reference's `shp` export route (reference: src/o2agol/pipeline/
  * source.py:626 maps 'shp' → 'ESRI Shapefile'; domain enums list it
  * as a direct-export format) the way the GPKG writer (H6) closed
  * `gpkg`: a real, externally readable file set, not a stub.
  *
  * Writes the full sidecar set:
  *   - `.shp` geometry records (Point / PolyLine / Polygon),
  *   - `.shx` record index,
  *   - `.dbf` dBase-III attribute table,
  *   - `.prj` WGS84 WKT, `.cpg` charset marker.
  *
  * Geometry input is the engine's WKB convention (little-endian
  * Point=1 / LineString=2 / Polygon=3, the `graft.functions.Wkb`
  * encoders); EWKB SRID and Z/M variants are written as their 2D
  * projection (`Wkb.decodeRings`). Ring orientation is normalized to the spec's contract
  * (outer rings clockwise, holes counter-clockwise) by signed area.
  *
  * Scale note: a shapefile is a SINGLE seekable file set with
  * interior back-patched lengths and a hard 2 GB format limit — the
  * driver-streamed `toLocalIterator` shape (constant memory, the
  * GPKG/GeoJSON convention) is forced by the format, not the engine;
  * the distributed big-export paths are GeoParquet (H17) and the
  * partitioned parquet/CSV sinks (H10). The 2 GB ceiling is enforced
  * with a typed ExportError rather than a corrupt file.
  */
object Shapefile {

  /** Summary of a finished write. */
  final case class WriteResult(
      path: String, rows: Long, shapeType: Int,
      bbox: (Double, Double, Double, Double))

  private val FileCode = 9994
  private val Version = 1000
  private val MaxFileBytes = Int.MaxValue.toLong // spec: offsets are 16-bit-word ints

  private val Wgs84Wkt =
    """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]"""

  /** 2×signed area (shoelace); > 0 = counter-clockwise. */
  private def signedArea2(ring: Array[Double]): Double = {
    var s = 0.0
    val n = ring.length / 2
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      s += ring(2 * i) * ring(2 * j + 1) - ring(2 * j) * ring(2 * i + 1)
      i += 1
    }
    s
  }

  // ---- attribute (.dbf) model: fixed-width ASCII fields.

  private final case class DbfField(name: String, typ: Char, len: Int, dec: Int)

  private def dbfField(f: StructField): DbfField = f.dataType match {
    case StringType => DbfField(f.name.take(10), 'C', 64, 0)
    case LongType | IntegerType | ShortType | ByteType => DbfField(f.name.take(10), 'N', 18, 0)
    case DoubleType | FloatType => DbfField(f.name.take(10), 'N', 19, 6)
    // dBASE has no date-time type: ISO-8601 text, 27 = the widest form
    case TimestampType | TimestampNTZType => DbfField(f.name.take(10), 'C', 27, 0)
    case other =>
      throw new graft.ExportError(
        s"shapefile attribute '${f.name}': unsupported type ${other.simpleString}",
        Map("format" -> "shp", "stage" -> "export"))
  }

  /** Render `v` into its field of a .dbf record, at `rec(at)`; the
    * field holds spaces already.
    */
  private def putField(rec: Array[Byte], at: Int, fd: DbfField, v: Any): Unit = {
    val s = v match {
      case null => ""
      case d: Double => { val t = f"$d%.6f"; if (t.length > fd.len) "*" * fd.len else t }
      case f1: Float => { val t = f"${f1.toDouble}%.6f"; if (t.length > fd.len) "*" * fd.len else t }
      case t @ (_: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime) =>
        Writers.isoMicros(t)
      // Integers overflow the same way doubles do: a value wider than
      // the field gets the dBASE asterisk-fill overflow marker, never
      // a silent truncation of the most-significant digits.
      case other =>
        val t = other.toString
        if (fd.typ == 'N' && t.length > fd.len) "*" * fd.len else t
    }
    if (fd.typ == 'N') { // right-justified
      val t = s.takeRight(fd.len).getBytes("US-ASCII")
      System.arraycopy(t, 0, rec, at + fd.len - t.length, t.length)
    } else { // left-justified, truncate
      val t = s.take(fd.len).getBytes("US-ASCII")
      System.arraycopy(t, 0, rec, at, math.min(t.length, fd.len))
    }
  }

  /** Write `df` (with binary WKB column `wkbCol`; all geometries the
    * same WKB kind) as `<path>.shp/.shx/.dbf/.prj/.cpg`. `path` is
    * the basename WITHOUT extension. Returns the write summary.
    */
  def write(df: DataFrame, wkbCol: String, path: String): WriteResult = {
    val schema = df.schema
    val gIdx = Writers.wkbColumn(schema, wkbCol, "shp")
    val attrs = schema.fields.zipWithIndex.filter(_._2 != gIdx)
    val fields = attrs.map { case (f, _) => dbfField(f) }
    // dBASE caps field names at 10 chars; two columns sharing a
    // 10-char prefix would silently collide in the .dbf and make one
    // attribute unreadable. Fail loudly instead.
    val dup = fields.groupBy(_.name).collectFirst { case (n, fs) if fs.length > 1 => n }
    dup.foreach { n =>
      throw new graft.ExportError(
        s"shapefile: attribute names collide at the DBF 10-char limit: '$n'",
        Map("format" -> "shp", "stage" -> "export"))
    }

    var shapeType = -1
    var rows = 0L
    var xmin = Double.MaxValue; var ymin = Double.MaxValue
    var xmax = -Double.MaxValue; var ymax = -Double.MaxValue

    // Streamed through buffers, each feature encoded into reused
    // record buffers; the three headers are back-patched once the
    // streams are closed.
    def out(ext: String): OutputStream =
      new BufferedOutputStream(new FileOutputStream(s"$path.$ext"), 1 << 16)
    val shp = out("shp")
    val shx = out("shx")
    val dbf = out("dbf")
    var shpWords = 50L // header = 50 16-bit words
    try {
      // Placeholder main headers (patched after streaming).
      shp.write(new Array[Byte](100))
      shx.write(new Array[Byte](100))

      // .dbf header
      val headerSize = 32 + 32 * fields.length + 1
      val recordSize = 1 + fields.map(_.len).sum
      val dh = ByteBuffer.allocate(headerSize).order(ByteOrder.LITTLE_ENDIAN)
      dh.put(0x03.toByte).put(124.toByte).put(1.toByte).put(1.toByte) // version, YMD
      dh.putInt(0) // record count (patched)
      dh.putShort(headerSize.toShort).putShort(recordSize.toShort)
      dh.position(32)
      fields.foreach { fd =>
        val nm = new Array[Byte](11)
        val nb = fd.name.getBytes("US-ASCII")
        System.arraycopy(nb, 0, nm, 0, math.min(nb.length, 10))
        dh.put(nm).put(fd.typ.toByte).putInt(0)
        dh.put(fd.len.toByte).put(fd.dec.toByte)
        dh.put(new Array[Byte](14))
      }
      dh.put(0x0D.toByte)
      dbf.write(dh.array())

      val record = new Array[Byte](recordSize) // deletion flag, then the fields
      val fieldAt = fields.scanLeft(1)(_ + _.len)
      var content = ByteBuffer.allocate(1 << 12).order(ByteOrder.LITTLE_ENDIAN)
      val entry = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN) // record header, index entry

      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val g = Writers.rings(row.getAs[Array[Byte]](gIdx), "shp")
        val st = g.kind match { case 1 => 1; case 2 => 3; case 3 => 5 }
        if (shapeType == -1) shapeType = st
        else if (shapeType != st)
          throw new graft.ExportError(
            s"mixed shape types in one shapefile: $shapeType vs $st",
            Map("format" -> "shp", "stage" -> "export"))

        // Points go straight to their place in the content, each
        // polygon ring walked backwards when its orientation is wrong
        // (outer CW, holes CCW); the record bbox folds them in written
        // order, the file bbox folds the record bbox.
        val rings = g.rings
        val pts = rings.foldLeft(0)(_ + _.length / 2)
        val size = if (g.kind == 1) 4 + 16 else 4 + 32 + 8 + 4 * rings.length + 16 * pts
        if (content.capacity < size) content = ByteBuffer.allocate(2 * size).order(ByteOrder.LITTLE_ENDIAN)
        var at = size - 16 * pts
        var rxmin = Double.MaxValue; var rymin = Double.MaxValue
        var rxmax = -Double.MaxValue; var rymax = -Double.MaxValue
        var ri = 0
        while (ri < rings.length) {
          val r = rings(ri)
          val n = r.length / 2
          val ccw = g.kind == 3 && signedArea2(r) > 0
          val backwards = g.kind == 3 && ((ri == 0 && ccw) || (ri > 0 && !ccw))
          if (g.kind != 1) content.putInt(44 + 4 * ri, (at - size + 16 * pts) / 16)
          var k = 0
          while (k < n) {
            val i = 2 * (if (backwards) n - 1 - k else k)
            if (r(i) < rxmin) rxmin = r(i); if (r(i) > rxmax) rxmax = r(i)
            if (r(i + 1) < rymin) rymin = r(i + 1); if (r(i + 1) > rymax) rymax = r(i + 1)
            content.putDouble(at, r(i)).putDouble(at + 8, r(i + 1))
            at += 16; k += 1
          }
          ri += 1
        }
        if (rxmin < xmin) xmin = rxmin; if (rxmax > xmax) xmax = rxmax
        if (rymin < ymin) ymin = rymin; if (rymax > ymax) ymax = rymax
        content.putInt(0, if (g.kind == 1) 1 else shapeType)
        if (g.kind != 1)
          content.putDouble(4, rxmin).putDouble(12, rymin).putDouble(20, rxmax).putDouble(28, rymax)
            .putInt(36, rings.length).putInt(40, pts)
        rows += 1

        if ((shpWords + 4 + size / 2) * 2 > MaxFileBytes)
          throw new graft.ExportError(
            "shapefile 2 GB format limit exceeded — use GeoParquet for exports this size",
            Map("format" -> "shp", "stage" -> "export"))
        // record header (big-endian): number, content words
        shp.write(entry.putInt(0, rows.toInt).putInt(4, size / 2).array())
        shp.write(content.array(), 0, size)
        // index entry: offset words (BE), content words (BE)
        shx.write(entry.putInt(0, shpWords.toInt).putInt(4, size / 2).array())
        shpWords += 4 + size / 2

        // .dbf record
        java.util.Arrays.fill(record, ' '.toByte)
        var fi = 0
        while (fi < attrs.length) {
          val i = attrs(fi)._2
          putField(record, fieldAt(fi), fields(fi), if (row.isNullAt(i)) null else row.get(i))
          fi += 1
        }
        dbf.write(record)
      }
      dbf.write(0x1A)
    } finally { shp.close(); shx.close(); dbf.close() }

    if (rows == 0) { xmin = 0; ymin = 0; xmax = 0; ymax = 0; shapeType = 1 }

    def mainHeader(lenWords: Long): Array[Byte] = {
      val b = ByteBuffer.allocate(100)
      b.order(ByteOrder.BIG_ENDIAN)
      b.putInt(FileCode); b.position(24); b.putInt(lenWords.toInt)
      b.order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(Version).putInt(shapeType)
      b.putDouble(xmin).putDouble(ymin).putDouble(xmax).putDouble(ymax)
      b.putDouble(0).putDouble(0).putDouble(0).putDouble(0) // Z/M ranges
      b.array()
    }
    def patch(ext: String, pos: Long, bytes: Array[Byte]): Unit = {
      val f = new RandomAccessFile(s"$path.$ext", "rw")
      try { f.seek(pos); f.write(bytes) } finally f.close()
    }
    patch("shp", 0, mainHeader(shpWords))
    patch("shx", 0, mainHeader(50L + 4L * rows))
    patch("dbf", 4, ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(rows.toInt).array())

    val prj = new BufferedOutputStream(new FileOutputStream(s"$path.prj"))
    try prj.write(Wgs84Wkt.getBytes("US-ASCII")) finally prj.close()
    val cpg = new BufferedOutputStream(new FileOutputStream(s"$path.cpg"))
    try cpg.write("UTF-8".getBytes("US-ASCII")) finally cpg.close()

    WriteResult(path, rows, shapeType, (xmin, ymin, xmax, ymax))
  }
}
