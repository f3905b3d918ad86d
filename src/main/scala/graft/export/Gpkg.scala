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
    require(data.length == PageSize)
    raf.seek((n - 1L) * PageSize)
    raf.write(data)
  }

  /** Usable bytes; reserved-space-per-page is 0. */
  private val U = PageSize
  private val X = U - 35                    // max local payload, table leaf
  private val M = (U - 12) * 32 / 255 - 23  // min local payload

  /** Build one table b-tree from STRICTLY ASCENDING rowid rows
    * (validated while streaming — the b-tree's binary search silently
    * corrupts on unordered or duplicate keys) and register it in
    * sqlite_master. `sql` is read once the rows have streamed, so a
    * DDL that depends on the data can be settled then: sqlite_master
    * is only rendered at [[close]].
    */
  def createTable(name: String, sql: => String, rows: Iterator[(Long, Array[Byte])]): Unit = {
    var prev = Long.MinValue
    val validated = rows.map { case (rowid, payload) =>
      require(rowid > prev,
        s"table '$name': rowids must be strictly ascending and unique " +
          s"(got $rowid after $prev) — sort by the fid column and dedupe first")
      prev = rowid
      (rowid, payload)
    }
    val root = buildTree(validated)
    masterRows += ((name, root, sql))
  }

  /** cellBytes = varint(P) ++ varint(rowid) ++ local-payload
    * [++ be32(firstOverflowPage)]; overflow pages are written
    * immediately.
    */
  private def makeCell(rowid: Long, payload: Array[Byte]): Array[Byte] = {
    val p = payload.length
    if (p <= X)
      varint(p.toLong) ++ varint(rowid) ++ payload
    else {
      val k = M + ((p - M) % (U - 4))
      val local = if (k <= X) k else M
      val chunks = payload.drop(local).grouped(U - 4).toArray
      val nums = chunks.map(_ => allocPage())
      var i = 0
      while (i < chunks.length) {
        val pg = new Array[Byte](PageSize)
        putBE32(pg, 0, if (i + 1 < nums.length) nums(i + 1) else 0)
        System.arraycopy(chunks(i), 0, pg, 4, chunks(i).length)
        writePage(nums(i), pg)
        i += 1
      }
      varint(p.toLong) ++ varint(rowid) ++ payload.take(local) ++ be32(nums(0))
    }
  }

  /** Pack rowid-ordered cells into leaf pages, then interior levels
    * bottom-up until one root remains.
    */
  private def buildTree(rows: Iterator[(Long, Array[Byte])]): Int = {
    // ---- leaves ----
    var leaves = Vector.empty[(Int, Long)] // (page, max rowid)
    val cells = ArrayBuffer[Array[Byte]]()
    var cellBytes = 0
    var maxRowid = 0L

    def flushLeaf(): Unit = {
      if (cells.nonEmpty) {
        val pn = allocPage()
        writePage(pn, renderPage(0x0D, cells.toSeq, base = 0, rightChild = 0))
        leaves :+= (pn, maxRowid)
        cells.clear(); cellBytes = 0
      }
    }

    while (rows.hasNext) {
      val (rowid, payload) = rows.next()
      val cell = makeCell(rowid, payload)
      if (cells.nonEmpty && 8 + 2 * (cells.size + 1) + cellBytes + cell.length > U)
        flushLeaf()
      require(8 + 2 + cell.length <= U, "single cell exceeds page capacity")
      cells += cell; cellBytes += cell.length; maxRowid = rowid
    }
    flushLeaf()

    if (leaves.isEmpty) { // empty table: one empty leaf
      val pn = allocPage()
      writePage(pn, renderPage(0x0D, Seq.empty, base = 0, rightChild = 0))
      return pn
    }

    // ---- interior levels ----
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
        val cs = group.dropRight(1).map { case (child, maxId) => be32(child) ++ varint(maxId) }
        writePage(pn, renderPage(0x05, cs, base = 0, rightChild = group.last._1))
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
    val masterCells = masterRows.toSeq.zipWithIndex.map { case ((name, root, sql), i) =>
      makeCell(i + 1L, record(Seq(SqlText("table"), SqlText(name), SqlText(name),
        SqlInt(root.toLong), SqlText(sql))))
    }
    val used = 100 + 8 + masterCells.map(2 + _.length).sum
    require(used <= PageSize,
      s"sqlite_master would overflow page 1 ($used > $PageSize bytes): " +
        s"the schema of ${masterRows.map(_._1).mkString(", ")} is too wide for this writer")
    val page1 = renderPage(0x0D, masterCells, base = 100, rightChild = 0)

    // 100-byte header (offsets per the file-format spec)
    System.arraycopy("SQLite format 3\u0000".getBytes("ISO-8859-1"), 0, page1, 0, 16)
    putBE16(page1, 16, PageSize)
    page1(18) = 1; page1(19) = 1          // file format write/read version: legacy
    page1(20) = 0                         // reserved space
    page1(21) = 64; page1(22) = 32; page1(23) = 32
    putBE32(page1, 24, 1)                 // file change counter
    putBE32(page1, 28, pageCount)         // database size in pages
    putBE32(page1, 32, 0); putBE32(page1, 36, 0) // freelist
    putBE32(page1, 40, 1)                 // schema cookie
    putBE32(page1, 44, 4)                 // schema format 4
    putBE32(page1, 48, 0)                 // default cache size
    putBE32(page1, 52, 0)                 // largest root (vacuum off)
    putBE32(page1, 56, 1)                 // text encoding UTF-8
    putBE32(page1, 60, 10300)             // user_version: GeoPackage 1.3
    putBE32(page1, 64, 0)                 // incremental vacuum off
    putBE32(page1, 68, 0x47504B47)        // application_id "GPKG"
    putBE32(page1, 92, 1)                 // version-valid-for
    putBE32(page1, 96, 3045000)           // sqlite version number stamp
    writePage(1, page1)
  } finally raf.close()

  /** Render one b-tree page: header, cell pointer array (key order),
    * cell content packed from the page end downward.
    */
  private def renderPage(pageType: Int, cells: Seq[Array[Byte]], base: Int, rightChild: Int): Array[Byte] = {
    val page = new Array[Byte](PageSize)
    val interior = pageType == 0x05
    val headerLen = if (interior) 12 else 8
    page(base) = pageType.toByte
    putBE16(page, base + 1, 0) // first freeblock
    putBE16(page, base + 3, cells.size)
    var off = PageSize
    val ptrBase = base + headerLen
    cells.zipWithIndex.foreach { case (c, i) =>
      off -= c.length
      System.arraycopy(c, 0, page, off, c.length)
      putBE16(page, ptrBase + 2 * i, off)
    }
    require(ptrBase + 2 * cells.size <= off, "page overflow (cells collide with pointer array)")
    putBE16(page, base + 5, off)
    page(base + 7) = 0 // fragmented free bytes
    if (interior) putBE32(page, base + 8, rightChild)
    page
  }
}

private[export] object SqliteWriter {

  val PageSize = 4096

  sealed trait SqlValue
  case object SqlNull extends SqlValue
  final case class SqlInt(v: Long) extends SqlValue
  final case class SqlReal(v: Double) extends SqlValue
  final case class SqlText(s: String) extends SqlValue
  final case class SqlBlob(b: Array[Byte]) extends SqlValue

  /** SQLite varint: 1-8 bytes of 7 bits (high bit = continuation),
    * or 9 bytes where the last carries a full 8 bits (also the
    * negative-rowid form).
    */
  def varint(value: Long): Array[Byte] =
    if (value < 0L || value > ((1L << 56) - 1)) {
      val out = new Array[Byte](9)
      var v = value
      out(8) = (v & 0xFF).toByte
      v >>>= 8
      var i = 7
      while (i >= 0) { out(i) = ((v & 0x7F) | 0x80).toByte; v >>>= 7; i -= 1 }
      out
    } else {
      var v = value
      var out = List((v & 0x7F).toByte)
      v >>>= 7
      while (v != 0) { out = ((v & 0x7F) | 0x80).toByte :: out; v >>>= 7 }
      out.toArray
    }

  private def intBody(v: Long, bytes: Int): Array[Byte] = {
    val out = new Array[Byte](bytes)
    var i = bytes - 1
    var x = v
    while (i >= 0) { out(i) = (x & 0xFF).toByte; x >>= 8; i -= 1 }
    out
  }

  /** Smallest serial type + body for an integer. */
  private def intSerial(v: Long): (Long, Array[Byte]) = v match {
    case 0L => (8L, Array.emptyByteArray)
    case 1L => (9L, Array.emptyByteArray)
    case _ if v >= Byte.MinValue && v <= Byte.MaxValue     => (1L, intBody(v, 1))
    case _ if v >= Short.MinValue && v <= Short.MaxValue   => (2L, intBody(v, 2))
    case _ if v >= -(1L << 23) && v < (1L << 23)           => (3L, intBody(v, 3))
    case _ if v >= Int.MinValue && v <= Int.MaxValue       => (4L, intBody(v, 4))
    case _ if v >= -(1L << 47) && v < (1L << 47)           => (5L, intBody(v, 6))
    case _                                                 => (6L, intBody(v, 8))
  }

  /** Encode one record (row payload): header of serial types, then
    * the value bodies.
    */
  def record(values: Seq[SqlValue]): Array[Byte] = {
    val parts = values.map {
      case SqlNull    => (0L, Array.emptyByteArray)
      case SqlInt(v)  => intSerial(v)
      case SqlReal(v) => (7L, intBody(java.lang.Double.doubleToLongBits(v), 8))
      case SqlText(s) => val b = s.getBytes("UTF-8"); (13L + 2 * b.length, b)
      case SqlBlob(b) => (12L + 2 * b.length, b)
    }
    val serials = parts.flatMap(p => varint(p._1)).toArray
    // the header-size varint includes itself; sizes here never need
    // more than a 2-byte varint (header < 2^14 bytes)
    val hdrLen = if (serials.length + 1 <= 127) serials.length + 1 else serials.length + 2
    varint(hdrLen.toLong) ++ serials ++ parts.flatMap(_._2)
  }

  def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

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

  private def toSqlValue(v: Any): SqlValue = v match {
    case null          => SqlNull
    case x: Long       => SqlInt(x)
    case x: Int        => SqlInt(x.toLong)
    case x: Short      => SqlInt(x.toLong)
    case x: Byte       => SqlInt(x.toLong)
    case x: Boolean    => SqlInt(if (x) 1L else 0L)
    case x: Double     => SqlReal(x)
    case x: Float      => SqlReal(x.toDouble)
    case x: String     => SqlText(x)
    case x: Array[Byte] => SqlBlob(x)
    case x @ (_: java.sql.Timestamp | _: java.time.Instant | _: java.time.LocalDateTime) =>
      SqlText(Writers.isoMillisUtc(x))
    case other =>
      throw new IllegalArgumentException(s"GPKG: unsupported value $other")
  }

  /** GeoPackage geometry blob: "GP", version 0, flags 0x01
    * (little-endian header, no envelope), srs_id, then the WKB.
    */
  private def geometryBlob(wkb: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + wkb.length)
    out(0) = 'G'; out(1) = 'P'; out(2) = 0; out(3) = 0x01
    out(4) = (SrsId & 0xFF).toByte
    out(5) = ((SrsId >> 8) & 0xFF).toByte
    out(6) = ((SrsId >> 16) & 0xFF).toByte
    out(7) = ((SrsId >> 24) & 0xFF).toByte
    System.arraycopy(wkb, 0, out, 8, wkb.length)
    out
  }

  /** Base WKB type of a blob (EWKB flags and ISO Z/M offsets
    * stripped); -1 for a blob too short to carry one.
    */
  private def wkbType(wkb: Array[Byte]): Int =
    if (wkb.length < 5) -1
    else {
      val buf = java.nio.ByteBuffer.wrap(wkb, 1, 4).order(
        if (wkb(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
      (buf.getInt & 0x0FFFFFFF) % 1000
    }

  /** `geometry_type_name` of a layer whose non-null geometries have
    * the WKB types `kinds`: the one type's name, else GEOMETRY.
    */
  private def geometryTypeName(kinds: Set[Int]): String = kinds.toSeq match {
    case Seq(1) => "POINT"
    case Seq(2) => "LINESTRING"
    case Seq(3) => "POLYGON"
    case _      => "GEOMETRY"
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

    // ---- gpkg_spatial_ref_sys (srs_id is the rowid) ----
    val srsRows = Seq(
      (-1L, "Undefined cartesian SRS", "NONE", -1L, "undefined"),
      (0L, "Undefined geographic SRS", "NONE", 0L, "undefined"),
      (4326L, "WGS 84 geodetic", "EPSG", 4326L, Wgs84Wkt))
    w.createTable("gpkg_spatial_ref_sys",
      "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, " +
        "organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, " +
        "definition TEXT NOT NULL, description TEXT)",
      srsRows.iterator.map { case (id, sname, org, orgId, defn) =>
        id -> record(Seq(SqlText(sname), SqlNull, SqlText(org), SqlInt(orgId), SqlText(defn), SqlNull))
      })

    val typeNames = layers.map(l => writeFeatureTable(w, l))

    // ---- gpkg_contents + gpkg_geometry_columns (one row per layer) ----
    w.createTable("gpkg_contents",
      "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, data_type TEXT NOT NULL, " +
        "identifier TEXT, description TEXT DEFAULT '', last_change DATETIME NOT NULL, " +
        "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)",
      layers.iterator.zipWithIndex.map { case (l, i) =>
        (i + 1).toLong -> record(Seq(SqlText(l.table), SqlText("features"), SqlText(l.table),
          SqlText(""), SqlText(LastChange), SqlNull, SqlNull, SqlNull, SqlNull, SqlInt(SrsId.toLong)))
      })
    w.createTable("gpkg_geometry_columns",
      "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, " +
        "geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)",
      layers.iterator.zip(typeNames).zipWithIndex.map { case ((l, typeName), i) =>
        (i + 1).toLong -> record(Seq(SqlText(l.table), SqlText(GeomCol), SqlText(typeName),
          SqlInt(SrsId.toLong), SqlInt(0L), SqlInt(0L)))
      })

    w.close()
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
    var kinds = Set.empty[Int]
    var rowNum = 0L
    // The b-tree needs strictly ascending rowids: a user fid column
    // drives an explicit global sort (toLocalIterator on an unsorted
    // distributed frame yields arbitrary order); otherwise arrival
    // order gets sequential rowids. Duplicate/null fids fail fast in
    // createTable's ascending check / here.
    val ordered = if (hasFid) input.orderBy(org.apache.spark.sql.functions.col("fid")) else input
    val featureRows = ordered.toLocalIterator()
    w.createTable(table,
      s"""CREATE TABLE "$table" ("fid" INTEGER PRIMARY KEY, "$GeomCol" ${geometryTypeName(kinds)}""" +
        (if (attrDdl.nonEmpty) s", $attrDdl)" else ")"),
      new Iterator[(Long, Array[Byte])] {
        def hasNext: Boolean = featureRows.hasNext
        def next(): (Long, Array[Byte]) = {
          val r = featureRows.next()
          rowNum += 1
          val fid =
            if (!hasFid) rowNum
            else if (r.isNullAt(fidIdx))
              throw new IllegalArgumentException(s"GPKG: null fid at input row $rowNum")
            else r.getLong(fidIdx)
          val geom =
            if (r.isNullAt(geomIdx)) SqlNull
            else {
              val wkb = r.getAs[Array[Byte]](geomIdx)
              kinds += wkbType(wkb)
              SqlBlob(geometryBlob(wkb))
            }
          val attrs = attrIdx.map(i => if (r.isNullAt(i)) SqlNull else toSqlValue(r.get(i)))
          fid -> record(SqlNull +: geom +: attrs.toSeq)
        }
      })
    geometryTypeName(kinds)
  }
}
