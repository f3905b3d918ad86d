package graft.sources

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.`export`.{FlatGeobuf, PackedRTree}

/** FlatGeobuf READER — the import half of H19, written from the same
  * public v3 spec as the writer but sharing no code with it beyond
  * the PackedRTree layout module: header/feature flatbuffers are
  * parsed with a minimal vtable walker (no generated classes), so a
  * writer bug cannot hide behind a shared encoder.
  *
  * Scale shape: with the optional packed Hilbert R-tree present the
  * read is DISTRIBUTED — the driver parses only the header and the
  * 40-bytes-per-feature node array (the same order of bounded state
  * the writer held), then ships (offset, length) ranges to
  * executors which each open the file and parse their own feature
  * slices; feature bytes never visit the driver. Without the index
  * the driver still holds only bounded state: one buffered pass
  * over the SIZE PREFIXES (payloads skipped) recovers the same
  * (offset, length) ranges, and the feature decode stays on
  * executors — 16 bytes of driver state per feature either way.
  */
object FlatGeobufReader {

  // ---- minimal flatbuffer vtable walker ----------------------------
  private final class Fb(val bb: ByteBuffer, val root: Int) {
    def vtable(tablePos: Int): Int = tablePos - bb.getInt(tablePos)
    /** absolute position of field `slot`, or 0 if absent */
    def field(tablePos: Int, slot: Int): Int = {
      val vt = vtable(tablePos)
      val vtSize = bb.getShort(vt) & 0xffff
      val off = 4 + 2 * slot
      if (off >= vtSize) 0
      else {
        val fo = bb.getShort(vt + off) & 0xffff
        if (fo == 0) 0 else tablePos + fo
      }
    }
    def indirect(pos: Int): Int = pos + bb.getInt(pos)
    def vectorPos(pos: Int): (Int, Int) = {
      val v = indirect(pos)
      (v + 4, bb.getInt(v))
    }
    def string(pos: Int): String = {
      val (p, n) = vectorPos(pos)
      val arr = new Array[Byte](n)
      val d = bb.duplicate(); d.position(p); d.get(arr)
      new String(arr, "UTF-8")
    }
  }

  private def sizePrefixed(bytes: Array[Byte], at: Int): (Fb, Int) = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val size = bb.getInt(at)
    val start = at + 4
    (new Fb(bb, start + bb.getInt(start)), start + size)
  }

  // ---- header -------------------------------------------------------

  final case class Header(
      name: String,
      envelope: Option[(Double, Double, Double, Double)],
      geometryType: Int,
      columns: Seq[(String, Byte)],
      featuresCount: Long,
      indexNodeSize: Int,
      treeStart: Long,
      featuresStart: Long,
      fileLength: Long)

  def readHeader(path: String): Header = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val magic = new Array[Byte](8)
      raf.readFully(magic)
      if (!magic.sameElements(FlatGeobuf.Magic))
        throw new graft.ExportError(s"not a FlatGeobuf file: $path",
          Map("format" -> "fgb", "stage" -> "import"))
      val sizeBuf = new Array[Byte](4)
      raf.readFully(sizeBuf)
      val hSize = ByteBuffer.wrap(sizeBuf).order(ByteOrder.LITTLE_ENDIAN).getInt
      val hBytes = new Array[Byte](4 + hSize)
      System.arraycopy(sizeBuf, 0, hBytes, 0, 4)
      raf.readFully(hBytes, 4, hSize)
      val (h, _) = sizePrefixed(hBytes, 0)

      val name = { val p = h.field(h.root, 0); if (p == 0) "" else h.string(p) }
      val envelope = {
        val p = h.field(h.root, 1)
        if (p == 0) None
        else {
          val (vp, n) = h.vectorPos(p)
          if (n < 4) None
          else Some((h.bb.getDouble(vp), h.bb.getDouble(vp + 8),
            h.bb.getDouble(vp + 16), h.bb.getDouble(vp + 24)))
        }
      }
      val gType = { val p = h.field(h.root, 2); if (p == 0) 0 else h.bb.get(p) & 0xff }
      val cols = {
        val p = h.field(h.root, 7)
        if (p == 0) Seq.empty
        else {
          val (vp, n) = h.vectorPos(p)
          (0 until n).map { i =>
            val cPos = h.indirect(vp + 4 * i)
            val cName = { val np = h.field(cPos, 0); if (np == 0) "" else h.string(np) }
            val cType = { val tp = h.field(cPos, 1); if (tp == 0) 0.toByte else h.bb.get(tp) }
            (cName, cType)
          }
        }
      }
      val count = { val p = h.field(h.root, 8); if (p == 0) 0L else h.bb.getLong(p) }
      val nodeSize = { val p = h.field(h.root, 9); if (p == 0) 16 else h.bb.getShort(p) & 0xffff }
      val treeStart = 8L + 4L + hSize
      val treeLen =
        if (nodeSize > 0 && count > 0)
          PackedRTree.numNodes(count, nodeSize) * PackedRTree.NodeItemLen
        else 0L
      Header(name, envelope, gType, cols, count, nodeSize,
        treeStart, treeStart + treeLen, raf.length())
    } finally raf.close()
  }

  private def sparkType(t: Byte): DataType = t match {
    case 2 => BooleanType
    case 5 => IntegerType
    case 7 => LongType
    case 9 => FloatType
    case 10 => DoubleType
    case 11 | 13 => StringType // 13 = DateTime, ISO-8601 text
    case other =>
      throw new graft.ExportError(s"flatgeobuf reader: unsupported ColumnType $other",
        Map("format" -> "fgb", "stage" -> "import"))
  }

  def schemaOf(h: Header): StructType = StructType(
    h.columns.map { case (n, t) => StructField(n, sparkType(t), nullable = true) } :+
      StructField("geometry", BinaryType, nullable = true))

  // ---- feature parse (executor-side) --------------------------------

  /** Parse one size-prefixed Feature flatbuffer into (attr values in
    * header-column order, WKB geometry bytes).
    */
  private[sources] def parseFeature(
      bytes: Array[Byte], columns: Seq[(String, Byte)]): Row = {
    val (f, _) = sizePrefixed(bytes, 0)
    // geometry (slot 0) -> WKB
    val wkb: Array[Byte] = {
      val gp = f.field(f.root, 0)
      if (gp == 0) null
      else {
        val g = f.indirect(gp)
        val gt = { val p = f.field(g, 6); if (p == 0) 0 else f.bb.get(p) & 0xff }
        val (xyPos, nXy) = {
          val p = f.field(g, 1)
          if (p == 0) (0, 0) else f.vectorPos(p)
        }
        val ends: Seq[Int] = {
          val p = f.field(g, 0)
          if (p == 0) Seq.empty
          else {
            val (ep, n) = f.vectorPos(p)
            (0 until n).map(i => f.bb.getInt(ep + 4 * i))
          }
        }
        val nPts = nXy / 2
        def xy(i: Int): (Double, Double) =
          (f.bb.getDouble(xyPos + 16 * i), f.bb.getDouble(xyPos + 16 * i + 8))
        // Foreign files may carry a Geometry table with an absent or
        // empty xy vector (an empty geometry). Decoding xy(0) there
        // would read garbage doubles from buffer offset 0 — map the
        // empty coordinate vector to a null WKB instead.
        if (nPts == 0) null
        else {
          val bos = ByteBuffer.allocate(9 + 4 * (ends.length max 1) + 16 * nPts + 16)
            .order(ByteOrder.LITTLE_ENDIAN)
          bos.put(1.toByte).putInt(gt)
          gt match {
            case 1 => val (x, y) = xy(0); bos.putDouble(x).putDouble(y)
            case 2 =>
              bos.putInt(nPts)
              (0 until nPts).foreach { i => val (x, y) = xy(i); bos.putDouble(x).putDouble(y) }
            case 3 =>
              val ringEnds = if (ends.nonEmpty) ends else Seq(nPts)
              if (ringEnds.exists(e => e < 0 || e > nPts) ||
                  ringEnds.zip(ringEnds.tail).exists { case (a, b) => b < a })
                throw new graft.ExportError(
                  s"flatgeobuf reader: ring ends $ringEnds inconsistent with $nPts points",
                  Map("format" -> "fgb", "stage" -> "import"))
              bos.putInt(ringEnds.length)
              var start = 0
              ringEnds.foreach { e =>
                bos.putInt(e - start)
                (start until e).foreach { i =>
                  val (x, y) = xy(i); bos.putDouble(x).putDouble(y)
                }
                start = e
              }
            case other =>
              throw new graft.ExportError(s"flatgeobuf reader: geometry type $other",
                Map("format" -> "fgb", "stage" -> "import"))
          }
          java.util.Arrays.copyOf(bos.array(), bos.position())
        }
      }
    }
    // properties (slot 1): LE u16 column index + value
    val values = new Array[Any](columns.length)
    val pp = f.field(f.root, 1)
    if (pp != 0) {
      val (vp, n) = f.vectorPos(pp)
      var p = vp
      val end = vp + n
      while (p < end) {
        val ci = (f.bb.get(p) & 0xff) | ((f.bb.get(p + 1) & 0xff) << 8)
        p += 2
        columns(ci)._2 match {
          case 2 => values(ci) = f.bb.get(p) != 0; p += 1
          case 5 => values(ci) = f.bb.getInt(p); p += 4
          case 7 => values(ci) = f.bb.getLong(p); p += 8
          case 9 => values(ci) = f.bb.getFloat(p); p += 4
          case 10 => values(ci) = f.bb.getDouble(p); p += 8
          case 11 | 13 =>
            val len = f.bb.getInt(p); p += 4
            val arr = new Array[Byte](len)
            val d = f.bb.duplicate(); d.position(p); d.get(arr)
            values(ci) = new String(arr, "UTF-8"); p += len
          case other =>
            throw new graft.ExportError(s"flatgeobuf reader: ColumnType $other",
              Map("format" -> "fgb", "stage" -> "import"))
        }
      }
    }
    Row.fromSeq(values.toSeq :+ wkb)
  }

  // ---- distributed read ----------------------------------------------

  /** Read the whole file. Indexed files read DISTRIBUTED (leaf
    * offsets → executor range reads); unindexed files stream through
    * the driver (single-file fallback, stated in the Scaladoc).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val h = readHeader(path)
    val schema = schemaOf(h)
    if (h.indexNodeSize > 0) {
      // Index geometry is sized from featuresCount, so an indexed
      // header's count is authoritative: 0 means genuinely empty.
      if (h.featuresCount == 0) {
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
      }
      val ranges = leafRanges(h, path)
      distributedRead(spark, path, h, schema, ranges)
    } else {
      // No early return on featuresCount==0 here: the FGB spec
      // defines 0 as "count UNKNOWN" — exactly what streamed foreign
      // writers emit — and the prefix scan below derives ranges from
      // the data section alone (an actually-empty data section
      // naturally yields zero ranges).
      // Unindexed fallback, BOUNDED (r12): each feature's size
      // prefix is self-describing, so the driver makes one buffered
      // sequential pass reading ONLY the 4-byte prefixes and
      // skipping payloads — 16 bytes of (offset, length) state per
      // feature, the same order of driver memory as the indexed
      // path's 40-byte node array — then ships the ranges to
      // executors exactly like the indexed read. Feature payloads
      // never visit the driver on either path.
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(path), 1 << 16))
      def skipFully(n0: Long): Unit = {
        var n = n0
        while (n > 0) {
          val s = in.skip(n)
          // skip() returns 0 at EOF instead of advancing — without
          // this guard a file truncated mid-payload spins forever
          if (s <= 0)
            throw new graft.ExportError(
              s"flatgeobuf reader: unexpected EOF with $n bytes left to skip",
              Map("format" -> "fgb", "stage" -> "import"))
          n -= s
        }
      }
      val ranges = try {
        skipFully(h.featuresStart)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var pos = h.featuresStart
        while (pos < h.fileLength) {
          val b0 = in.read(); val b1 = in.read(); val b2 = in.read(); val b3 = in.read()
          if (b3 < 0)
            throw new graft.ExportError(
              s"flatgeobuf reader: truncated size prefix at byte $pos",
              Map("format" -> "fgb", "stage" -> "import"))
          val sz = (b0 & 0xff) | ((b1 & 0xff) << 8) | ((b2 & 0xff) << 16) | ((b3 & 0xff) << 24)
          if (sz <= 0 || pos + 4 + sz > h.fileLength)
            throw new graft.ExportError(
              s"flatgeobuf reader: feature size $sz at byte $pos exceeds file bounds",
              Map("format" -> "fgb", "stage" -> "import"))
          out += ((pos - h.featuresStart, 4L + sz))
          skipFully(sz.toLong)
          pos += 4 + sz
        }
        out.toSeq
      } finally in.close()
      distributedRead(spark, path, h, schema, ranges)
    }
  }

  /** Bbox query THROUGH the index: only intersecting leaves' byte
    * ranges are read — the random access the spatial index exists
    * for. Requires an indexed file.
    */
  def search(spark: SparkSession, path: String,
      minX: Double, minY: Double, maxX: Double, maxY: Double): DataFrame = {
    val h = readHeader(path)
    require(h.indexNodeSize > 0, "search needs an indexed FlatGeobuf (indexNodeSize > 0)")
    val schema = schemaOf(h)
    if (h.featuresCount == 0)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val all = leafRanges(h, path)
    val nodes = readTree(h, path)
    val hits = PackedRTree.search(nodes, h.featuresCount, h.indexNodeSize,
      minX, minY, maxX, maxY)
    val byOffset = all.map(r => r._1 -> r).toMap
    distributedRead(spark, path, h, schema, hits.map(x => byOffset(x._1)))
  }

  private def readTree(h: Header, path: String): IndexedSeq[PackedRTree.Item] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val len = (h.featuresStart - h.treeStart).toInt
      val bytes = new Array[Byte](len)
      raf.seek(h.treeStart)
      raf.readFully(bytes)
      PackedRTree.parse(bytes)
    } finally raf.close()
  }

  /** (offset-in-data-section, length) per feature, from the leaf
    * level of the index — driver state is 16 bytes per feature.
    */
  private def leafRanges(h: Header, path: String): Seq[(Long, Long)] = {
    val nodes = readTree(h, path)
    val leafStart = PackedRTree.levelBounds(h.featuresCount, h.indexNodeSize).head._1.toInt
    val offsets = (leafStart until nodes.length).map(nodes(_).offset)
    val dataLen = h.fileLength - h.featuresStart
    offsets.zipWithIndex.map { case (off, i) =>
      val next = if (i + 1 < offsets.length) offsets(i + 1) else dataLen
      (off, next - off)
    }
  }

  private def distributedRead(
      spark: SparkSession, path: String, h: Header,
      schema: StructType, ranges: Seq[(Long, Long)]): DataFrame = {
    val featuresStart = h.featuresStart
    val columns = h.columns
    // Batch contiguous ranges into ONE sequential read each (r14):
    // the full-file paths' per-feature ranges tile the data section
    // back to back, so the r13 shape paid a seek+readFully SYSCALL
    // PAIR per feature (millions at scale — measured 54×/decade on
    // the sf1 sweep) and shipped a per-feature tuple list from the
    // driver. A batch is a run of ranges where each starts exactly
    // where the previous ended, capped by size; the filtered/search
    // path's non-contiguous survivors simply split batches at every
    // gap. Feature byte slices — and therefore parsed rows and row
    // order — are identical.
    val dp = spark.sparkContext.defaultParallelism
    val totalBytes = ranges.iterator.map(_._2).sum
    // Adaptive cap: enough batches to fill the cores several times
    // over at any file size (so small files still decode in parallel
    // — the unindexed-read spec pins that), bounded at 16 MB so one
    // batch never holds more.
    val maxBatchBytes =
      math.min(16L << 20, totalBytes / math.max(1, 4 * dp) + 1)
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Int])]
    val lens = scala.collection.mutable.ArrayBuffer.empty[Int]
    var batchStart = 0L
    var batchLen = 0L
    def flush(): Unit = if (lens.nonEmpty) {
      batches += ((batchStart, lens.toArray))
      lens.clear()
      batchLen = 0L
    }
    ranges.foreach { case (off, len) =>
      if (lens.isEmpty) { batchStart = off; batchLen = 0L }
      else if (batchStart + batchLen != off || batchLen + len > maxBatchBytes) {
        flush(); batchStart = off
      }
      lens += len.toInt
      batchLen += len
    }
    flush()
    val rdd = spark.sparkContext
      .parallelize(batches.toSeq, math.max(1, math.min(dp, batches.length)))
      .mapPartitions { it =>
        // one file handle per partition (the batch seam)
        val raf = new RandomAccessFile(path, "r")
        val rows = it.flatMap { case (off, ls) =>
          var total = 0L
          ls.foreach(total += _)
          val buf = new Array[Byte](total.toInt)
          raf.seek(featuresStart + off)
          raf.readFully(buf)
          var p = 0
          ls.map { l =>
            val bytes = java.util.Arrays.copyOfRange(buf, p, p + l)
            p += l
            parseFeature(bytes, columns)
          }
        }.toArray // materialize before closing the handle
        raf.close()
        rows.iterator
      }
    spark.createDataFrame(rdd, schema)
  }
}
