package graft.`export`

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Minimal self-contained SQLite 3 file writer — enough of the file
  * format (https://sqlite.org/fileformat2.html, public spec) to emit
  * a GeoPackage any stock sqlite3 reads: table b-trees (leaf +
  * interior levels), the record serial-type format, varints, payload
  * overflow chains, and the sqlite_master catalog on page 1.
  *
  * Scope (documented, enforced): rowid tables only. Every table the
  * GeoPackage writer emits keys on an INTEGER PRIMARY KEY, which is
  * the rowid alias, so no index b-tree is needed; WAL/freelist/vacuum
  * never apply to a write-once file.
  *
  * Table pages stream to a RandomAccessFile as they fill, so driver
  * memory stays O(page).
  */
private[export] final class SqliteWriter(path: String) {

  import SqliteWriter._

  private val raf = new java.io.RandomAccessFile(path, "rw")
  raf.setLength(0)

  private var pageCount = 1 // page 1 = header + sqlite_master root
  private val masterRows = ArrayBuffer[(String, Int, String)]() // (table, root page, DDL)

  private def allocPage(): Int = { pageCount += 1; pageCount }

  private def writePage(n: Int, data: Array[Byte]): Unit = {
    raf.seek((n - 1L) * PageSize)
    raf.write(data)
  }

  /** Usable bytes; reserved-space-per-page is 0. */
  private val U = PageSize
  private val X = U - 35                    // max local payload, table leaf
  private val M = (U - 12) * 32 / 255 - 23  // min local payload

  // The b-tree page being filled: cells packed from the page end
  // downward, their pointers in key order after the page header.
  private val page = new Array[Byte](PageSize)
  private var cells = 0
  private var top = PageSize

  /** Build one table b-tree and register it in sqlite_master. `rows`
    * fills `rec` and passes each row's rowid to its argument, in
    * STRICTLY ascending order (validated while streaming — the
    * b-tree's binary search silently corrupts on unordered or
    * duplicate keys). `sql` is read once the rows have streamed, so a
    * DDL that depends on the data can be settled then: sqlite_master
    * is only rendered at [[close]].
    */
  def createTable(name: String, sql: => String, rec: Record)(rows: (Long => Unit) => Unit): Unit = {
    val leaves = ArrayBuffer[(Int, Long)]() // (page, max rowid)
    var prev = Long.MinValue
    def flushLeaf(): Unit = {
      val pn = allocPage()
      flushPage(pn, 0x0D, base = 0, rightChild = 0)
      leaves += ((pn, prev))
    }
    val full: Int => Unit = _ => flushLeaf()
    rows { rowid =>
      require(rowid > prev,
        s"table '$name': rowids must be strictly ascending and unique " +
          s"(got $rowid after $prev) — sort by the fid column and dedupe first")
      addCell(rowid, rec, base = 0)(full)
      prev = rowid
    }
    if (cells > 0 || leaves.isEmpty) flushLeaf() // an empty table is one empty leaf
    masterRows += ((name, interiorLevels(leaves.toVector), sql))
  }

  /** Add `rec` under `rowid` to the page being filled as a table-leaf
    * cell: varint(P), varint(rowid), the local payload and, when it
    * spills, the first overflow page (overflow pages are written at
    * once). `full` runs first, with the bytes the page would use, when
    * the page has cells and this one does not fit.
    */
  private def addCell(rowid: Long, rec: Record, base: Int)(full: Int => Unit): Unit = {
    val p = rec.size()
    val local =
      if (p <= X) p
      else { val k = M + ((p - M) % (U - 4)); if (k <= X) k else M }
    val spilled = if (local < p) new Array[Byte](p) else null
    val firstOverflow = pageCount + 1
    if (local < p) {
      rec.write(spilled, 0)
      val n = (p - local + U - 5) / (U - 4)
      (0 until n).foreach { i =>
        val pg = new Array[Byte](PageSize)
        putBE32(pg, 0, if (i + 1 < n) firstOverflow + i + 1 else 0)
        val from = local + i * (U - 4)
        System.arraycopy(spilled, from, pg, 4, math.min(U - 4, p - from))
        writePage(firstOverflow + i, pg)
      }
      pageCount += n
    }
    val len = varintLen(p) + varintLen(rowid) + local + (if (local < p) 4 else 0)
    val used = base + 8 + 2 * (cells + 1) + (PageSize - top) + len
    if (cells > 0 && used > PageSize) full(used)
    require(base + 8 + 2 + len <= PageSize, "single cell exceeds page capacity")
    var o = reserve(len, base + 8)
    o += putVarint(page, o, p)
    o += putVarint(page, o, rowid)
    if (local == p) rec.write(page, o)
    else {
      System.arraycopy(spilled, 0, page, o, local)
      putBE32(page, o + local, firstOverflow)
    }
  }

  /** Reserve the next `len`-byte cell of the page being filled, whose
    * pointer array starts at `ptrBase`; returns the cell's offset.
    */
  private def reserve(len: Int, ptrBase: Int): Int = {
    top -= len
    require(ptrBase + 2 * (cells + 1) <= top, "page overflow (cells collide with pointer array)")
    putBE16(page, ptrBase + 2 * cells, top)
    cells += 1
    top
  }

  /** Write the page being filled as page `n` (b-tree header at
    * `base`) and start an empty one.
    */
  private def flushPage(n: Int, pageType: Int, base: Int, rightChild: Int): Unit = {
    page(base) = pageType.toByte
    putBE16(page, base + 1, 0) // first freeblock
    putBE16(page, base + 3, cells)
    putBE16(page, base + 5, top)
    page(base + 7) = 0 // fragmented free bytes
    if (pageType == 0x05) putBE32(page, base + 8, rightChild)
    writePage(n, page)
    java.util.Arrays.fill(page, 0.toByte)
    cells = 0
    top = PageSize
  }

  /** Interior levels over the leaves, bottom-up until one root
    * remains; returns the root page.
    */
  private def interiorLevels(leaves: Vector[(Int, Long)]): Int = {
    // Conservative fan-out (ptr 2 + child 4 + rowid varint ≤ 9 per
    // cell): still ~270 children/page. The last group is rebalanced
    // to ≥ 2 children so no interior page ends up cell-less.
    val maxKids = (U - 12) / 15
    var level = leaves
    while (level.size > 1) {
      var groups = level.grouped(maxKids).toVector
      if (groups.size > 1 && groups.last.size == 1) {
        val pen = groups(groups.size - 2)
        groups = groups
          .updated(groups.size - 2, pen.dropRight(1))
          .updated(groups.size - 1, pen.takeRight(1) ++ groups.last)
      }
      level = groups.map { group =>
        // last child becomes the rightmost pointer, the rest cells
        val pn = allocPage()
        group.init.foreach { case (child, maxId) =>
          val o = reserve(4 + varintLen(maxId), ptrBase = 12)
          putBE32(page, o, child)
          putVarint(page, o + 4, maxId)
        }
        flushPage(pn, 0x05, base = 0, rightChild = group.last._1)
        (pn, group.last._2)
      }
    }
    level.head._1
  }

  /** Finalize: render sqlite_master into page 1 and the 100-byte
    * header, branded GeoPackage 1.3 (application_id "GPKG",
    * user_version 10300), then close.
    */
  def close(): Unit = try {
    val rec = new Record(5)
    val full: Int => Unit = used => require(used <= PageSize,
      s"sqlite_master would overflow page 1 ($used > $PageSize bytes): " +
        s"the schema of ${masterRows.map(_._1).mkString(", ")} is too wide for this writer")
    masterRows.zipWithIndex.foreach { case ((name, root, sql), i) =>
      Seq("table", name, name, root, sql).copyToArray(rec.values)
      addCell(i + 1L, rec, base = 100)(full)
    }

    // 100-byte header (offsets per the file-format spec)
    System.arraycopy("SQLite format 3\u0000".getBytes("ISO-8859-1"), 0, page, 0, 16)
    putBE16(page, 16, PageSize)
    page(18) = 1; page(19) = 1            // file format write/read version: legacy
    page(20) = 0                          // reserved space
    page(21) = 64; page(22) = 32; page(23) = 32
    putBE32(page, 24, 1)                  // file change counter
    putBE32(page, 28, pageCount)          // database size in pages
    putBE32(page, 32, 0); putBE32(page, 36, 0) // freelist
    putBE32(page, 40, 1)                  // schema cookie
    putBE32(page, 44, 4)                  // schema format 4
    putBE32(page, 48, 0)                  // default cache size
    putBE32(page, 52, 0)                  // largest root (vacuum off)
    putBE32(page, 56, 1)                  // text encoding UTF-8
    putBE32(page, 60, 10300)              // user_version: GeoPackage 1.3
    putBE32(page, 64, 0)                  // incremental vacuum off
    putBE32(page, 68, 0x47504B47)         // application_id "GPKG"
    putBE32(page, 92, 1)                  // version-valid-for
    putBE32(page, 96, 3045000)            // sqlite version number stamp
    flushPage(1, 0x0D, base = 100, rightChild = 0)
  } finally raf.close()

  /** Close and delete the file: the failure path of a write. */
  def discard(): Unit =
    try raf.close() finally java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
}

private[export] object SqliteWriter {

  val PageSize = 4096

  /** GeoPackage geometry blob header: "GP", version 0, flags 0x01
    * (little-endian, no envelope), srs_id 4326 (LE).
    */
  private val GpHeader = Array[Byte]('G', 'P', 0, 0x01, 0xE6.toByte, 0x10, 0, 0)

  /** One record (https://sqlite.org/fileformat2.html#record_format),
    * encoded from the reused `values` of one row at a time: null, an
    * integral or Boolean (INTEGER), Double or Float (REAL), String or
    * timestamp (TEXT), Array[Byte] (BLOB). Column `gpCol`'s blob is a
    * GeoPackage geometry: the 8-byte GP header, then the WKB.
    */
  final class Record(width: Int, gpCol: Int = -1) {
    val values = new Array[Any](width)
    private val types = new Array[Long](width)
    private val nums = new Array[Long](width) // INTEGER value or REAL bits
    private val bytes = new Array[Array[Byte]](width)
    private var hdrLen = 0

    /** Settle each value's serial type; returns the record's length. */
    def size(): Int = {
      var serials = 0
      var body = 0
      var i = 0
      while (i < width) {
        val t = values(i) match {
          case null                  => 0L
          case x: Long               => integer(i, x)
          case x: Int                => integer(i, x.toLong)
          case x: Short              => integer(i, x.toLong)
          case x: Byte               => integer(i, x.toLong)
          case x: Boolean            => integer(i, if (x) 1L else 0L)
          case x: Double             => nums(i) = java.lang.Double.doubleToLongBits(x); 7L
          case x: Float              => nums(i) = java.lang.Double.doubleToLongBits(x.toDouble); 7L
          case x: String             => text(i, x)
          case x: Array[Byte] if i == gpCol => bytes(i) = x; 12L + 2 * (8 + x.length)
          case x: Array[Byte]        => bytes(i) = x; 12L + 2 * x.length
          case x @ (_: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime) =>
            text(i, Writers.isoMillisUtc(x))
          case other =>
            throw new IllegalArgumentException(s"GPKG: unsupported value $other")
        }
        types(i) = t
        serials += varintLen(t)
        body += bodyLen(t)
        i += 1
      }
      // the header-size varint includes itself; sizes here never need
      // more than a 2-byte varint (header < 2^14 bytes)
      hdrLen = if (serials + 1 <= 127) serials + 1 else serials + 2
      varintLen(hdrLen) + serials + body
    }

    /** Write the record [[size]] settled at `dst(off)`. */
    def write(dst: Array[Byte], off: Int): Unit = {
      var o = off + putVarint(dst, off, hdrLen)
      var i = 0
      while (i < width) { o += putVarint(dst, o, types(i)); i += 1 }
      i = 0
      while (i < width) {
        val t = types(i)
        if (t >= 12) {
          if (i == gpCol) { System.arraycopy(GpHeader, 0, dst, o, 8); o += 8 }
          System.arraycopy(bytes(i), 0, dst, o, bytes(i).length)
          o += bytes(i).length
        } else {
          val n = bodyLen(t)
          var k = n - 1
          var x = nums(i)
          while (k >= 0) { dst(o + k) = x.toByte; x >>= 8; k -= 1 }
          o += n
        }
        i += 1
      }
    }

    /** Smallest serial type for an integer. */
    private def integer(i: Int, v: Long): Long = {
      nums(i) = v
      if (v == 0L) 8L
      else if (v == 1L) 9L
      else if (v >= Byte.MinValue && v <= Byte.MaxValue) 1L
      else if (v >= Short.MinValue && v <= Short.MaxValue) 2L
      else if (v >= -(1L << 23) && v < (1L << 23)) 3L
      else if (v >= Int.MinValue && v <= Int.MaxValue) 4L
      else if (v >= -(1L << 47) && v < (1L << 47)) 5L
      else 6L
    }

    private def text(i: Int, s: String): Long = {
      bytes(i) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      13L + 2 * bytes(i).length
    }
  }

  /** Body bytes of a serial type. */
  private val FixedLen = Array(0, 1, 2, 3, 4, 6, 8, 8, 0, 0)
  private def bodyLen(t: Long): Int = if (t >= 12) ((t - 12) / 2).toInt else FixedLen(t.toInt)

  /** Length of a SQLite varint: 1-8 bytes of 7 bits (high bit =
    * continuation), or 9 bytes where the last carries a full 8 bits
    * (also the negative-rowid form).
    */
  def varintLen(v: Long): Int =
    if (v < 0L || v > ((1L << 56) - 1)) 9
    else {
      var n = 1
      var x = v >>> 7
      while (x != 0) { n += 1; x >>>= 7 }
      n
    }

  /** Write `v` as a varint at `a(off)`; returns its length. */
  def putVarint(a: Array[Byte], off: Int, v: Long): Int = {
    val n = varintLen(v)
    var x = v
    var i = n - 1
    if (n == 9) { a(off + 8) = x.toByte; x >>>= 8; i = 7 }
    else { a(off + i) = (x & 0x7F).toByte; x >>>= 7; i -= 1 }
    while (i >= 0) { a(off + i) = ((x & 0x7F) | 0x80).toByte; x >>>= 7; i -= 1 }
    n
  }

  def putBE32(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = ((v >> 24) & 0xFF).toByte; a(off + 1) = ((v >> 16) & 0xFF).toByte
    a(off + 2) = ((v >> 8) & 0xFF).toByte; a(off + 3) = (v & 0xFF).toByte
  }

  def putBE16(a: Array[Byte], off: Int, v: Int): Unit = {
    a(off) = ((v >> 8) & 0xFF).toByte; a(off + 1) = (v & 0xFF).toByte
  }
}

/** GeoPackage writer on top of [[SqliteWriter]] — the reference's
  * default export format (reference: export.py:140 `_export_to_gpkg`,
  * via GDAL; cli.py:1163 default). Emits the GPKG 1.3 required
  * layout: `gpkg_spatial_ref_sys`, `gpkg_contents`,
  * `gpkg_geometry_columns`, one feature table with GP-header
  * geometry blobs, application_id "GPKG".
  *
  * Single-file format ⇒ rows stream through the driver
  * (`toLocalIterator`, constant memory) exactly like the GeoJSON
  * FeatureCollection writer; the distributed path for huge exports
  * remains parquet/GeoJSONSeq.
  */
object Gpkg {

  import SqliteWriter._

  private val SrsId = 4326
  private val LastChange = "2026-01-01T00:00:00.000Z"
  private val GeomCol = "geom"

  private val Wgs84Wkt =
    "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\",SPHEROID[\"WGS 84\",6378137,298.257223563]]," +
      "PRIMEM[\"Greenwich\",0],UNIT[\"degree\",0.0174532925199433]]"

  private def sqlType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType => "INTEGER"
    case DoubleType | FloatType                        => "DOUBLE"
    case StringType                                    => "TEXT"
    case BinaryType                                    => "BLOB"
    case BooleanType                                   => "BOOLEAN"
    case TimestampType | TimestampNTZType              => "DATETIME"
    case other =>
      throw new IllegalArgumentException(s"GPKG: unsupported column type $other")
  }

  /** Bit of a blob's base WKB type (EWKB flags and ISO Z/M offsets
    * stripped) in a layer's kind mask: 1 << type for Point,
    * LineString and Polygon, bit 0 for any other type or a blob too
    * short to carry one.
    */
  private def kindBit(wkb: Array[Byte]): Int =
    if (wkb.length < 5) 1
    else {
      val raw =
        if (wkb(0) == 1) (wkb(1) & 0xFF) | (wkb(2) & 0xFF) << 8 | (wkb(3) & 0xFF) << 16 | (wkb(4) & 0xFF) << 24
        else (wkb(4) & 0xFF) | (wkb(3) & 0xFF) << 8 | (wkb(2) & 0xFF) << 16 | (wkb(1) & 0xFF) << 24
      val t = (raw & 0x0FFFFFFF) % 1000
      if (t >= 1 && t <= 3) 1 << t else 1
    }

  /** `geometry_type_name` of a layer whose non-null geometries set
    * the bits `kinds`: the one type's name, else GEOMETRY.
    */
  private def geometryTypeName(kinds: Int): String = kinds match {
    case 2 => "POINT"
    case 4 => "LINESTRING"
    case 8 => "POLYGON"
    case _ => "GEOMETRY"
  }

  /** Write `df` as a single-table GeoPackage. `geom` must be a BINARY
    * column holding raw WKB (e.g. from the Wkb encoders); a LONG
    * `fid` column, when present, becomes the rowid.
    */
  def write(df: DataFrame, path: String, table: String): Unit =
    writeLayers(Seq(Layer(df, table)), path)

  /** One feature table of a (possibly multi-layer) GeoPackage. */
  final case class Layer(df: DataFrame, table: String)

  /** Multi-layer single-file GeoPackage — the reference's GPKG
    * contract (export.py:80 "GPKG: Single file with layers",
    * export.py:337-344: a dict of frames becomes N layers of ONE
    * file, named `{target}_{layer}`). Each layer is its own table
    * b-tree streamed through the same page writer; `gpkg_contents`
    * and `gpkg_geometry_columns` carry one row per layer so any
    * GPKG-aware reader enumerates them. Layer naming is the
    * CALLER's concern ([[Exporter.writeGpkgLayers]] applies the
    * reference's `{target}_{layer}` rule).
    */
  def writeLayers(layers: Seq[Layer], path: String): Unit = {
    require(layers.nonEmpty, "GPKG: at least one layer")
    require(layers.map(_.table).distinct.size == layers.size,
      s"GPKG: duplicate layer table names in ${layers.map(_.table)}")
    val w = new SqliteWriter(path)
    try {
      // ---- gpkg_spatial_ref_sys (srs_id is the rowid) ----
      fixedTable(w, "gpkg_spatial_ref_sys",
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, " +
          "organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, " +
          "definition TEXT NOT NULL, description TEXT)",
        Seq(
          -1L -> Seq("Undefined cartesian SRS", null, "NONE", -1L, "undefined", null),
          0L -> Seq("Undefined geographic SRS", null, "NONE", 0L, "undefined", null),
          4326L -> Seq("WGS 84 geodetic", null, "EPSG", 4326L, Wgs84Wkt, null)))

      val typeNames = layers.map(l => writeFeatureTable(w, l))

      // ---- gpkg_contents + gpkg_geometry_columns (one row per layer) ----
      fixedTable(w, "gpkg_contents",
        "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, data_type TEXT NOT NULL, " +
          "identifier TEXT, description TEXT DEFAULT '', last_change DATETIME NOT NULL, " +
          "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)",
        layers.zipWithIndex.map { case (l, i) =>
          (i + 1L) -> Seq(l.table, "features", l.table, "", LastChange, null, null, null, null, SrsId)
        })
      fixedTable(w, "gpkg_geometry_columns",
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, " +
          "geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)",
        layers.zip(typeNames).zipWithIndex.map { case ((l, typeName), i) =>
          (i + 1L) -> Seq(l.table, GeomCol, typeName, SrsId, 0, 0)
        })

      w.close()
    } catch { case t: Throwable => w.discard(); throw t }
  }

  /** A metadata table of `(rowid, column values)` rows. */
  private def fixedTable(w: SqliteWriter, name: String, sql: String, rows: Seq[(Long, Seq[Any])]): Unit = {
    val rec = new Record(rows.head._2.length)
    w.createTable(name, sql, rec) { add =>
      rows.foreach { case (rowid, values) => values.copyToArray(rec.values); add(rowid) }
    }
  }

  /** Stream one layer's feature table through the page writer and
    * return its `geometry_type_name`, read from the rows written.
    */
  private def writeFeatureTable(w: SqliteWriter, layer: Layer): String = {
    val Layer(df, table) = layer
    // A 'fid' column becomes the rowid: narrower integral types are
    // widened to long; anything non-integral is an error rather than
    // a silent drop-and-renumber.
    val input = if (df.schema.fieldNames.contains("fid")) {
      df.schema("fid").dataType match {
        case LongType => df
        case ByteType | ShortType | IntegerType =>
          df.withColumn("fid", org.apache.spark.sql.functions.col("fid").cast(LongType))
        case other =>
          throw new IllegalArgumentException(
            s"GPKG: 'fid' must be an integral type to serve as rowid, got $other")
      }
    } else df
    val schema = input.schema
    val geomIdx = Writers.wkbColumn(schema, GeomCol, "gpkg")
    val attrFields = schema.fields.filter(f => f.name != GeomCol && f.name != "fid")
    val hasFid = schema.fieldNames.contains("fid")

    val attrDdl = attrFields.map(f => s""""${f.name}" ${sqlType(f.dataType)}""").mkString(", ")
    val fidIdx = if (hasFid) schema.fieldIndex("fid") else -1
    val attrIdx = attrFields.map(f => schema.fieldIndex(f.name))
    var kinds = 0
    var rowNum = 0L
    // The b-tree needs strictly ascending rowids: a user fid column
    // drives an explicit global sort (toLocalIterator on an unsorted
    // distributed frame yields arbitrary order); otherwise arrival
    // order gets sequential rowids. Duplicate/null fids fail fast in
    // createTable's ascending check / here.
    val ordered = if (hasFid) input.orderBy(org.apache.spark.sql.functions.col("fid")) else input
    // column 0 is the fid (the rowid alias, stored NULL), 1 the geometry
    val rec = new Record(2 + attrIdx.length, gpCol = 1)
    w.createTable(table,
      s"""CREATE TABLE "$table" ("fid" INTEGER PRIMARY KEY, "$GeomCol" ${geometryTypeName(kinds)}""" +
        (if (attrDdl.nonEmpty) s", $attrDdl)" else ")"),
      rec) { add =>
      val it = ordered.toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        rowNum += 1
        val fid =
          if (!hasFid) rowNum
          else if (r.isNullAt(fidIdx))
            throw new IllegalArgumentException(s"GPKG: null fid at input row $rowNum")
          else r.getLong(fidIdx)
        val wkb = r.get(geomIdx)
        if (wkb != null) kinds |= kindBit(wkb.asInstanceOf[Array[Byte]])
        rec.values(1) = wkb
        var i = 0
        while (i < attrIdx.length) { rec.values(2 + i) = r.get(attrIdx(i)); i += 1 }
        add(fid)
      }
    }
    geometryTypeName(kinds)
  }
}
