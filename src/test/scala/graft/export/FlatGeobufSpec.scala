package graft.`export`

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Wkb

/** H19 (round 10): FlatGeobuf writer — the reference's `fgb`
  * direct-export format, written with the real flatbuffers runtime.
  * Validation is an INDEPENDENT flatbuffer reader in this spec: a
  * vtable walker implemented from the flatbuffers wire-format
  * documentation (not the builder's code), checking magic, header
  * fields (name, envelope, geometry_type, columns, features_count,
  * index_node_size), per-feature geometry xy and the spec's
  * properties encoding, plus Exporter routing and typed errors.
  */
class FlatGeobufSpec extends SparkSpec {
  import spark.implicits._

  private def tmpFile(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    s"$d/layer.fgb"
  }

  // ---- independent minimal flatbuffer reader (wire format) ----

  private final class Fb(val bb: ByteBuffer) {
    def this(bytes: Array[Byte], pos: Int) =
      this({ val b = ByteBuffer.wrap(bytes); b.order(ByteOrder.LITTLE_ENDIAN); b.position(pos); b.slice().order(ByteOrder.LITTLE_ENDIAN) })
    /** root table position (buffer holds ONE size-stripped flatbuffer). */
    def root: Int = bb.getInt(0)
    /** absolute position of field `id` in table at `t`, or -1. */
    def field(t: Int, id: Int): Int = {
      val vtable = t - bb.getInt(t)
      val vlen = bb.getShort(vtable) & 0xffff
      val slot = 4 + 2 * id
      if (slot >= vlen) -1
      else {
        val off = bb.getShort(vtable + slot) & 0xffff
        if (off == 0) -1 else t + off
      }
    }
    def indirect(p: Int): Int = p + bb.getInt(p)
    def string(p: Int): String = {
      val s = indirect(p)
      val len = bb.getInt(s)
      val arr = new Array[Byte](len)
      val dup = bb.duplicate(); dup.position(s + 4); dup.get(arr)
      new String(arr, "UTF-8")
    }
    def vectorPos(p: Int): (Int, Int) = {
      val v = indirect(p)
      (v + 4, bb.getInt(v))
    }
  }

  private def readSizePrefixed(bytes: Array[Byte], pos: Int): (Fb, Int) = {
    val size = ByteBuffer.wrap(bytes, pos, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    (new Fb(bytes, pos + 4), pos + 4 + size)
  }

  private def sampleDf = Seq(
    (1L, "alpha", 0.75, -10.0, -5.0),
    (2L, "beta", 1.25, 30.0, 40.0))
    .toDF("id", "name", "score", "x", "y")
    .select($"id", $"name", $"score", Wkb.wkbFromXY($"x", $"y").as("geom"))

  test("magic, header fields and features verify against the spec") {
    val out = tmpFile("fgb-points")
    val res = FlatGeobuf.write(sampleDf, "geom", out)
    assert(res.rows == 2L && res.geometryType == 1)
    assert(res.bbox == ((-10.0, -5.0, 30.0, 40.0)))

    val bytes = Files.readAllBytes(Paths.get(out))
    assert(bytes.take(8).sameElements(FlatGeobuf.Magic), "magic")

    val (h, afterHeader) = readSizePrefixed(bytes, 8)
    val t = h.root
    assert(h.string(h.field(t, 0)) == "layer", "header.name")
    val (envPos, envLen) = h.vectorPos(h.field(t, 1))
    assert(envLen == 4)
    assert(h.bb.getDouble(envPos) == -10.0 && h.bb.getDouble(envPos + 24) == 40.0)
    assert((h.bb.get(h.field(t, 2)) & 0xff) == 1, "geometry_type Point")
    val (colsPos, colsLen) = h.vectorPos(h.field(t, 7))
    assert(colsLen == 3)
    val col0 = h.indirect(colsPos)
    assert(h.string(h.field(col0, 0)) == "id")
    assert((h.bb.get(h.field(col0, 1)) & 0xff) == 7, "id is Long(7)")
    val col2 = h.indirect(colsPos + 8)
    assert(h.string(h.field(col2, 0)) == "score")
    assert((h.bb.get(h.field(col2, 1)) & 0xff) == 10, "score is Double(10)")
    assert(h.bb.getLong(h.field(t, 8)) == 2L, "features_count")
    val idx = h.field(t, 9)
    assert(idx != -1 && h.bb.getShort(idx) == 0, "index_node_size written as 0")

    // feature 1
    val (f1, afterF1) = readSizePrefixed(bytes, afterHeader)
    val ft = f1.root
    val geom = f1.indirect(f1.field(ft, 0))
    val (xyPos, xyLen) = f1.vectorPos(f1.field(geom, 1))
    assert(xyLen == 2)
    assert(f1.bb.getDouble(xyPos) == -10.0 && f1.bb.getDouble(xyPos + 8) == -5.0)
    assert((f1.bb.get(f1.field(geom, 6)) & 0xff) == 1, "feature geometry type")
    // properties: u16 colIdx(0)=id, i64 1; u16 1, u32 len, "alpha"; u16 2, f64
    val (pPos, pLen) = f1.vectorPos(f1.field(ft, 1))
    val pb = f1.bb
    assert((pb.getShort(pPos) & 0xffff) == 0)
    assert(pb.getLong(pPos + 2) == 1L)
    assert((pb.getShort(pPos + 10) & 0xffff) == 1)
    val slen = pb.getInt(pPos + 12)
    val sarr = new Array[Byte](slen)
    val dup = pb.duplicate(); dup.position(pPos + 16); dup.get(sarr)
    assert(new String(sarr, "UTF-8") == "alpha")
    assert((pb.getShort(pPos + 16 + slen) & 0xffff) == 2)
    assert(java.lang.Double.longBitsToDouble(pb.getLong(pPos + 18 + slen)) == 0.75)
    assert(pLen == 18 + slen + 8)

    // feature 2 exists and ends the file
    val (f2, end) = readSizePrefixed(bytes, afterF1)
    val g2 = f2.indirect(f2.field(f2.root, 0))
    val (xy2, _) = f2.vectorPos(f2.field(g2, 1))
    assert(f2.bb.getDouble(xy2) == 30.0)
    assert(end == bytes.length, "no trailing bytes")
  }

  test("polygon with a hole writes the ends vector") {
    val out = tmpFile("fgb-poly")
    // hand-built WKB polygon: outer 0..10 square + 2..4 hole
    val rings = Seq(
      Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)),
      Seq((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)))
    val wkb = {
      val n = rings.map(_.size).sum
      val b = ByteBuffer.allocate(9 + 4 * rings.size + 16 * n)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).putInt(3).putInt(rings.size)
      rings.foreach { r =>
        b.putInt(r.size)
        r.foreach { case (x, y) => b.putDouble(x).putDouble(y) }
      }
      b.array()
    }
    val df = Seq((1L, wkb)).toDF("id", "geom")
    val res = FlatGeobuf.write(df, "geom", out)
    assert(res.geometryType == 3)
    val bytes = Files.readAllBytes(Paths.get(out))
    val (h, afterHeader) = readSizePrefixed(bytes, 8)
    assert((h.bb.get(h.field(h.root, 2)) & 0xff) == 3, "header Polygon")
    val (f, _) = readSizePrefixed(bytes, afterHeader)
    val g = f.indirect(f.field(f.root, 0))
    val (endsPos, endsLen) = f.vectorPos(f.field(g, 0))
    assert(endsLen == 2, "two rings -> two ends")
    assert(f.bb.getInt(endsPos) == 5 && f.bb.getInt(endsPos + 4) == 10)
    val (xy, nXy) = f.vectorPos(f.field(g, 1))
    assert(nXy == 20)
    assert(f.bb.getDouble(xy + 8 * 10) == 2.0, "hole starts after outer ring")
  }

  test("linestring round-trips and Exporter routes .fgb") {
    val out = tmpFile("fgb-line")
    val df = Seq((5L, Seq((0.0, 1.0), (2.0, 3.0), (4.0, 5.0))))
      .toDF("id", "pts")
      .select($"id",
        Wkb.wkbLineFromCoords(transform($"pts",
          p => struct(p.getField("_1").as("x"), p.getField("_2").as("y")))).as("geom"))
    val res = FlatGeobuf.write(df, "geom", out)
    assert(res.geometryType == 2 && res.rows == 1L)
    val bytes = Files.readAllBytes(Paths.get(out))
    val (h, afterHeader) = readSizePrefixed(bytes, 8)
    assert((h.bb.get(h.field(h.root, 2)) & 0xff) == 2, "header LineString")
    val (f, _) = readSizePrefixed(bytes, afterHeader)
    val g = f.indirect(f.field(f.root, 0))
    val (xy, n) = f.vectorPos(f.field(g, 1))
    assert(n == 6)
    assert(f.bb.getDouble(xy + 40) == 5.0)

    val out2 = tmpFile("fgb-route")
    Exporter.write(df, out2, ExportFormat.Fgb, geometryWkb = Some(col("geom")))
    assert(Files.exists(Paths.get(out2)))
    assert(ExportFormat.fromPath("a/b/c.fgb") == ExportFormat.Fgb)

    val bad = Seq((1L, Array[Byte](1, 99, 0, 0, 0))).toDF("id", "geom")
    val e = intercept[graft.ExportError] {
      FlatGeobuf.write(bad, "geom", tmpFile("fgb-bad"))
    }
    assert(e.getMessage.contains("export failed") || e.getMessage.nonEmpty)
  }

  // ---- round 11: optional packed Hilbert R-tree index ----

  test("indexed write: header declares the index, tree layout verifies byte-level") {
    val n = 37 // not a node-size multiple: exercises partial parents
    val df = (1 to n).map(i => (i.toLong, (i * 7 % 100).toDouble, (i * 13 % 100).toDouble))
      .toDF("id", "x", "y")
      .select($"id", Wkb.wkbFromXY($"x", $"y").as("geom"))
    val out = tmpFile("fgb-indexed")
    val res = FlatGeobuf.write(df, "geom", out, indexNodeSize = 16)
    assert(res.rows == n)
    val bytes = Files.readAllBytes(Paths.get(out))
    val (h, afterHeader) = readSizePrefixed(bytes, 8)
    // header: index_node_size (slot 9) = 16 == spec default, so the
    // builder may omit it; features_count (slot 8) present
    val idxPos = h.field(h.root, 9)
    val nodeSize =
      if (idxPos < 0) 16 else h.bb.getShort(idxPos) & 0xffff
    assert(nodeSize == 16)
    assert(h.bb.getLong(h.field(h.root, 8)) == n)

    // tree: numNodes(37,16) nodes of 40 bytes between header and features
    val numNodes = PackedRTree.numNodes(n, 16)
    assert(numNodes == 37 + 3 + 1)
    val treeLen = (numNodes * PackedRTree.NodeItemLen).toInt
    val nodes = PackedRTree.parse(
      java.util.Arrays.copyOfRange(bytes, afterHeader, afterHeader + treeLen))
    // root bbox == envelope
    val envPos = h.vectorPos(h.field(h.root, 1))._1
    assert(nodes(0).minX == h.bb.getDouble(envPos) &&
      nodes(0).minY == h.bb.getDouble(envPos + 8) &&
      nodes(0).maxX == h.bb.getDouble(envPos + 16) &&
      nodes(0).maxY == h.bb.getDouble(envPos + 24))
    // leaves: ascending feature offsets, each resolving to a feature
    val leafStart = PackedRTree.levelBounds(n, 16).head._1.toInt
    val leaves = nodes.drop(leafStart)
    assert(leaves.length == n)
    assert(leaves.map(_.offset) == leaves.map(_.offset).sorted)
    val featuresStart = afterHeader + treeLen
    leaves.foreach { leaf =>
      val p = featuresStart + leaf.offset.toInt
      val sz = ByteBuffer.wrap(bytes, p, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      assert(sz > 0 && p + 4 + sz <= bytes.length)
    }
    // leaves are Hilbert-ordered on bbox centers over the envelope
    val ext = (nodes(0).minX, nodes(0).minY, nodes(0).maxX, nodes(0).maxY)
    val keys = leaves.map(l => PackedRTree.hilbertOf(l.minX, l.minY, l.maxX, l.maxY, ext))
    assert(keys == keys.sorted, "leaf items must be in Hilbert order")
  }

  test("index search returns exactly the brute-force bbox matches") {
    val n = 200
    val df = (1 to n).map(i => (i.toLong, (i * 37 % 211).toDouble, (i * 91 % 197).toDouble))
      .toDF("id", "x", "y")
      .select($"id", Wkb.wkbFromXY($"x", $"y").as("geom"))
    val out = tmpFile("fgb-search")
    FlatGeobuf.write(df, "geom", out, indexNodeSize = 8)
    val got = graft.sources.FlatGeobufReader.search(spark, out, 20.0, 30.0, 120.0, 140.0)
      .select($"id").collect().map(_.getLong(0)).toSet
    val want = (1 to n).filter { i =>
      val x = i * 37 % 211; val y = i * 91 % 197
      x >= 20 && x <= 120 && y >= 30 && y <= 140
    }.map(_.toLong).toSet
    assert(got == want && want.nonEmpty)
  }

  test("FlatGeobufReader round-trips attributes, nulls and geometry exactly") {
    val df = Seq(
      (1L, "alpha", Some(0.75), -10.5, -5.25),
      (2L, null.asInstanceOf[String], Some(1.25), 30.0, 40.0),
      (3L, "gamma", None, 0.0, 0.0))
      .toDF("id", "name", "score", "x", "y")
      .select($"id", $"name", $"score", Wkb.wkbFromXY($"x", $"y").as("geom"))
    for (nodeSize <- Seq(0, 16)) {
      val out = tmpFile(s"fgb-rt$nodeSize")
      FlatGeobuf.write(df, "geom", out, nodeSize)
      val back = graft.sources.FlatGeobufReader.read(spark, out)
        .select($"id", $"name", $"score", Wkb.wkbPointXY($"geometry").as("p"))
        .collect().map(r => (r.getLong(0),
          Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getStruct(3).getDouble(0), r.getStruct(3).getDouble(1)))
        .sortBy(_._1)
      assert(back.toSeq == Seq(
        (1L, Some("alpha"), Some(0.75), -10.5, -5.25),
        (2L, None, Some(1.25), 30.0, 40.0),
        (3L, Some("gamma"), None, 0.0, 0.0)))
    }
  }

  test("single-feature indexed file carries the reference's 2-node (80 B) index and round-trips") {
    val df = Seq((42L, 7.5, -3.25)).toDF("id", "x", "y")
      .select($"id", Wkb.wkbFromXY($"x", $"y").as("geom"))
    val out = tmpFile("fgb-one")
    FlatGeobuf.write(df, "geom", out, indexNodeSize = 16)
    val bytes = Files.readAllBytes(Paths.get(out))
    val (h, afterHeader) = readSizePrefixed(bytes, 8)
    assert(h.bb.getLong(h.field(h.root, 8)) == 1L)
    // do-while levelBounds: root + leaf = 2 nodes, 80 bytes
    val treeLen = (PackedRTree.numNodes(1, 16) * PackedRTree.NodeItemLen).toInt
    assert(treeLen == 80)
    val nodes = PackedRTree.parse(
      java.util.Arrays.copyOfRange(bytes, afterHeader, afterHeader + treeLen))
    assert(nodes.length == 2)
    assert(nodes(0).minX == 7.5 && nodes(1).minX == 7.5, "root and leaf share the point bbox")
    // featuresStart sits 80 bytes after the header, where external
    // readers computing calcTreeSize(1, 16) expect it
    val p = afterHeader + treeLen
    val sz = ByteBuffer.wrap(bytes, p, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    assert(sz > 0 && p + 4 + sz == bytes.length, "exactly one feature after the 2-node tree")
    val back = graft.sources.FlatGeobufReader.read(spark, out)
      .select($"id", Wkb.wkbPointXY($"geometry").as("p")).collect()
    assert(back.length == 1 && back(0).getLong(0) == 42L &&
      back(0).getStruct(1).getDouble(0) == 7.5)
    // and the spatial search path still resolves the lone feature
    val hit = graft.sources.FlatGeobufReader.search(spark, out, 0.0, -10.0, 10.0, 0.0)
      .select($"id").collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(42L))
  }

  test("indexed write refuses empty-coordinate geometry with a typed error; temp spool is cleaned") {
    // LineString WKBs: one with points, one with a valid header but
    // zero coordinates (the empty geometry the unindexed path accepts)
    def line(pts: Seq[(Double, Double)]): Array[Byte] = {
      val bb = ByteBuffer.allocate(9 + 16 * pts.length).order(ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte).putInt(2).putInt(pts.length)
      pts.foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
      bb.array()
    }
    val bad = Seq((1L, line(Seq((1.0, 2.0), (3.0, 4.0)))), (2L, line(Seq.empty)))
      .toDF("id", "geom")
    val out = tmpFile("fgb-empty")
    val e = intercept[graft.ExportError] {
      FlatGeobuf.write(bad, "geom", out, indexNodeSize = 16)
    }
    assert(e.getMessage.contains("no coordinates"))
    // neither the target nor the spool beside it is left behind
    assert(Paths.get(out).getParent.toFile.list().isEmpty)
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    val spools = tmpDir.listFiles((_, n) => n.startsWith("graft_fgb_data_"))
    assert(spools == null || spools.isEmpty, "spool files must not leak")
  }

  test("header count and envelope agree with the features when the input changes between evaluations") {
    // Each evaluation of the frame sees a different row set: only the
    // first five filter calls in this JVM pass (local mode runs the
    // UDF in the driver's JVM, so the counter is shared).
    FgbEvalCounter.calls.set(0)
    val firstFive = udf((_: Long) => FgbEvalCounter.calls.incrementAndGet() <= 5).asNondeterministic()
    val df = spark.range(0, 10, 1, 1).filter(firstFive(col("id")))
      .select(col("id"), Wkb.wkbFromXY(col("id").cast("double"), lit(1.0)).as("geom"))
    val out = tmpFile("fgb-nondet")
    FlatGeobuf.write(df, "geom", out)
    val header = graft.sources.FlatGeobufReader.readHeader(out)
    val ids = graft.sources.FlatGeobufReader.read(spark, out).select($"id").as[Long].collect().toSeq
    assert(header.featuresCount == ids.length)
    assert(ids.nonEmpty && header.envelope == Some((ids.min.toDouble, 1.0, ids.max.toDouble, 1.0)))
  }

  test("unindexed read is distributed: prefix-scan ranges ship to executors; truncation is typed") {
    val n = 500
    val df = (1 to n).map(i => (i.toLong, (i * 37 % 211).toDouble, (i * 91 % 197).toDouble))
      .toDF("id", "x", "y")
      .select($"id", Wkb.wkbFromXY($"x", $"y").as("geom"))
    val out = tmpFile("fgb-noindex")
    FlatGeobuf.write(df, "geom", out) // indexNodeSize = 0: no R-tree
    val back = graft.sources.FlatGeobufReader.read(spark, out)
    // decode happens on executor partitions, not one driver array
    assert(back.rdd.getNumPartitions > 1, "fallback must parallelize the feature decode")
    assert(back.count() == n)
    val ids = back.select($"id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1 to n).map(_.toLong))

    // a file cut mid-feature raises the reader's typed error, not EOF garbage
    val bytes = Files.readAllBytes(Paths.get(out))
    val cut = tmpFile("fgb-cut")
    Files.write(Paths.get(cut), java.util.Arrays.copyOf(bytes, bytes.length - 7))
    val e = intercept[graft.ExportError] {
      graft.sources.FlatGeobufReader.read(spark, cut).count()
    }
    assert(e.getMessage.contains("exceeds file bounds") || e.getMessage.contains("truncated"))
  }

  test("unindexed featuresCount=0 means UNKNOWN: prefix scan still discovers the features") {
    // The FGB spec defines features_count=0 as "count unknown" — what
    // a foreign streamed writer emits when it can't know the count up
    // front. Compose such a file from parts this writer CAN produce:
    // the header of an empty unindexed write (count field = 0, no
    // index) + the data section of a real unindexed write.
    val n = 37
    val df = (1 to n).map(i => (i.toLong, i * 1.5, i * -0.5))
      .toDF("id", "x", "y")
      .select($"id", Wkb.wkbFromXY($"x", $"y").as("geom"))
    val full = tmpFile("fgb-full")
    FlatGeobuf.write(df, "geom", full)
    val empty = tmpFile("fgb-empty-hdr")
    FlatGeobuf.write(df.limit(0), "geom", empty)
    val h = graft.sources.FlatGeobufReader.readHeader(full)
    assert(h.featuresCount == n && h.indexNodeSize == 0)
    val fullBytes = Files.readAllBytes(Paths.get(full))
    val headerBytes = Files.readAllBytes(Paths.get(empty))
    val foreign = tmpFile("fgb-foreign")
    val outBytes = headerBytes ++
      java.util.Arrays.copyOfRange(fullBytes, h.featuresStart.toInt, fullBytes.length)
    Files.write(Paths.get(foreign), outBytes)
    val fh = graft.sources.FlatGeobufReader.readHeader(foreign)
    assert(fh.featuresCount == 0, "composed header must state count unknown")
    val back = graft.sources.FlatGeobufReader.read(spark, foreign)
    assert(back.count() == n, "prefix scan must discover the streamed features")
    assert(back.select($"id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1 to n).map(_.toLong))
    // and a GENUINELY empty unindexed file still reads as zero rows
    assert(graft.sources.FlatGeobufReader.read(spark, empty).count() == 0)
  }

  test("PackedRTree: level bounds match the reference recurrence; hilbert is injective on a grid") {
    // reference do-while: one feature still gets root + leaf (2 nodes)
    assert(PackedRTree.levelBounds(1, 16) == Seq((1L, 2L), (0L, 1L)))
    assert(PackedRTree.numNodes(1, 16) == 2L)
    // 179 items, node size 4: levels bottom-up 179, 45, 12, 3, 1
    val lb = PackedRTree.levelBounds(179, 4)
    assert(lb.map(b => b._2 - b._1) == Seq(179L, 45L, 12L, 3L, 1L))
    assert(lb.head._2 == PackedRTree.numNodes(179, 4))
    assert(lb.last == ((0L, 1L)), "root at node index 0")
    val keys = for (x <- 0 until 64; y <- 0 until 64)
      yield PackedRTree.hilbert(x * 1024, y * 1024)
    assert(keys.distinct.length == keys.length, "hilbert collided on the grid")
    assert(keys.forall(k => k >= 0 && k <= 0xffffffffL))
  }

  /** An EWKB point carrying an SRID word (0x20000001 + 4326). */
  private def sridPoint(x: Double, y: Double): Array[Byte] =
    ByteBuffer.allocate(25).order(ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(0x20000001).putInt(4326).putDouble(x).putDouble(y).array()

  /** An EWKB-Z line (0x80000002): 24-byte xyz vertices. */
  private def ewkbZLine(pts: Seq[(Double, Double, Double)]): Array[Byte] = {
    val b = ByteBuffer.allocate(9 + 24 * pts.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(0x80000002).putInt(pts.length)
    pts.foreach { case (x, y, z) => b.putDouble(x).putDouble(y).putDouble(z) }
    b.array()
  }

  private def coordsOf(df: org.apache.spark.sql.DataFrame): Seq[(Double, Double)] =
    df.select(explode(Wkb.wkbCoords($"geometry")).as("p")).collect()
      .map(r => (r.getStruct(0).getDouble(0), r.getStruct(0).getDouble(1))).toSeq

  test("EWKB SRID and Z geometries are written as their 2D coordinates") {
    val pt = tmpFile("fgb-srid-point")
    FlatGeobuf.write(Seq((1L, sridPoint(12.5, -3.25))).toDF("id", "geom"), "geom", pt)
    val line = tmpFile("fgb-z-line")
    val pts = Seq((0.0, 1.0, 100.0), (2.0, 3.0, 200.0), (4.0, 5.0, 300.0))
    FlatGeobuf.write(Seq((1L, ewkbZLine(pts))).toDF("id", "geom"), "geom", line)
    // both read back before asserting, so a failure shows both
    val got = (coordsOf(graft.sources.FlatGeobufReader.read(spark, pt)), coordsOf(graft.sources.FlatGeobufReader.read(spark, line)))
    assert(got == ((Seq((12.5, -3.25)), pts.map(p => (p._1, p._2)))))
  }
}

/** A JVM-wide call counter for the changing-input test's UDF. */
private object FgbEvalCounter {
  val calls = new java.util.concurrent.atomic.AtomicInteger
}
