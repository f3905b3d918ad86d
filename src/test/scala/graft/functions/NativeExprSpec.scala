package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins each native codegen expression to the declarative HOF
  * formulation it replaces — the native path must be a pure
  * performance substitution, never a semantic fork.
  */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, ""),
    (3L, "one"),
    (4L, "  Tabs\tand\nNEWLINES  mixed \t spacing today "),
    (5L, "répétition unicode çà et là répétition unicode çà encore")
  ).toDF("id", "text")

  test("WordBigrams matches the HOF transform-over-slices formulation") {
    val toks = split(lower(trim(col("text"))), "\\s+")
    val hofArr = when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2)))))
    val hof = docs.select($"id", hofArr.as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = docs.select($"id", WordBigrams(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(hof == native)
  }

  test("CosineSim matches the HOF fold formulation bit-for-bit") {
    import graft.operators.{HofReference, Similarity}
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.1f, -0.7f, 0.33f), Array(0.9f, 0.02f, -0.5f)),
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))
    ).toDF("a", "b")
    val out = vecs.select(
      HofReference.cosineHof($"a", $"b").as("hof"),
      Similarity.cosine($"a", $"b").as("native")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("JaroWinkler pins the classic vectors and the DuckDB edge conventions") {
    // Expected values are DuckDB jaro_winkler_similarity outputs
    // (the oracle engine), probed directly; they encode the textbook
    // definition plus DuckDB's conventions: empty→0 (even both
    // empty), boost only when jaro > 0.7, prefix cap 4, and
    // INTEGER halving of the out-of-order count (fuzz-verified
    // equal on 20k random pairs — float halving diverges on
    // odd-count cases).
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("CRATE", "TRACE", 0.7333333333333334), // jaro>0.7 but prefix 0
      ("abcdxxxxxx", "abcdyyyyyyzzzz", 0.5619047619047619), // prefix 4 but jaro<=0.7: NO boost
      ("ab", "abcdefghijklmnop", 0.7666666666666667), // boost applies just above threshold
      ("abcdefg", "gfedcba", 0.5079365079365079), // window-limited matches
      ("same", "same", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("a", "b", 0.0)
    )
    val got = cases.map(c => (c._1, c._2)).toDF("a", "b")
      .select(graft.functions.JaroWinkler(col("a"), col("b"))).collect().map(_.getDouble(0))
    cases.map(_._3).zip(got).zipWithIndex.foreach { case ((exp, g), i) =>
      assert(math.abs(g - exp) < 1e-12, s"case $i: expected $exp got $g")
    }
  }

  test("RakePhrases matches the posexplode→window-islands→aggregate formulation") {
    import org.apache.spark.sql.expressions.Window
    val stops = graft.queries.Pipeline11.RakeStopwords
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a the of"), // all stopwords -> zero phrases
      (3L, ""), // empty text -> one empty-token phrase (split semantics)
      (4L, "alpha beta the gamma the the delta epsilon zeta"),
      (5L, "  leading and trailing   spaces the word  "),
      (6L, "répétition çà the unicode phrase")
    ).toDF("doc_id", "text")
    // The r13 query shape, verbatim.
    val toks = corpus.select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val islands = toks.filter(!col("tok").isInCollection(stops))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val hof = islands.groupBy(col("doc_id"), col("grp"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok), ' ')")
        .as("phrase"), count(lit(1)).as("plen"))
      .select($"doc_id", $"phrase", $"plen")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    val native = corpus
      .select($"doc_id", explode(RakePhrases(col("text"), stops)).as("p"))
      .select($"doc_id", $"p.phrase", $"p.plen")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(hof == native)
  }

  test("RingStats matches the normalizeRing/polygonArea HOF chain bit-for-bit") {
    import graft.operators.Geo
    // Ring shapes the B11 pipeline actually produces (explicit
    // closing vertex) plus the rule edge cases: consecutive dups, CW
    // winding (reversal), degenerate (<3 vertices, collinear), and a
    // messy many-vertex ring with irrational coordinates so the IEEE
    // fold order is actually exercised.
    val rings: Seq[Seq[(Double, Double)]] = Seq(
      Seq((0, 0), (4, 0), (4, 3), (0, 3), (0, 0)).map(p => (p._1.toDouble, p._2.toDouble)),
      Seq((0.0, 0.0), (0.0, 3.0), (4.0, 3.0), (4.0, 0.0), (0.0, 0.0)), // CW → reversed
      Seq((1.0, 1.0), (1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (2.0, 2.0), (1.0, 1.0)), // dups
      Seq((5.0, 5.0), (5.0, 5.0)), // collapses to one vertex
      Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (0.0, 0.0)), // collinear, area 0
      Seq((7.25, -1.5)), // single vertex, no closing
      (0 until 17).map(i => (math.cos(i * 0.7) * 3.1 + 0.01 * i, math.sin(i * 1.3) * 2.7))
        .reverse :+ (math.cos(0.0) * 3.1, math.sin(0.0) * 2.7)
    )
    val df = rings.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("id", "raw0")
      .select($"id", transform($"raw0", p =>
        struct(p.getField("_1").as("x"), p.getField("_2").as("y"))).as("raw"))
    val valid = Geo.normalizeRing($"raw")
    val hof = df.select($"id",
        size(valid).as("n_valid"), Geo.polygonArea(valid).as("area"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val stats = RingStats($"raw")
    val native = df.select($"id",
        stats.getField("n_valid").as("n_valid"), stats.getField("area").as("area"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // exact equality, including the reversed-ring re-fold order
    assert(hof == native)
  }

  test("tr_geometry_rules evaluates RingStats once per ring") {
    val plan = graft.queries.TransformQueries.trGeometryRules(tables)
      .queryExecution.executedPlan.toString
    assert("ringstats\\(".r.findAllMatchIn(plan).size == 1, plan)
  }

  test("WkbFromXY round-trips through WkbPointXY") {
    val pts = Seq((1.5, -2.25), (0.0, 0.0), (-179.9, 89.9)).toDF("x", "y")
    val rt = pts
      .select(Wkb.wkbPointXY(Wkb.wkbFromXY($"x", $"y")).as("p"), $"x", $"y")
      .select($"p.x" === $"x" && $"p.y" === $"y")
      .collect()
    assert(rt.forall(_.getBoolean(0)))
  }

  private def coordsDf = Seq(
    (1L, Seq((0.0, 0.0), (3.0, 0.0), (3.0, 4.0))),
    (2L, Seq((1.5, -2.25), (1.5, -2.25), (7.0, 8.0), (9.0, -1.0))),
    (3L, Seq((-179.9, 89.9), (179.9, -89.9)))
  ).toDF("id", "raw")
    .select($"id", transform($"raw", p =>
      struct(p.getField("_1").as("x"), p.getField("_2").as("y"))).as("pts"))

  test("WkbLineFromCoords → WkbCoords round-trips; header count matches") {
    val rt = coordsDf.select(
      $"id", $"pts",
      Wkb.wkbCoords(Wkb.wkbLineFromCoords($"pts")).as("back"),
      Wkb.wkbNumPoints(Wkb.wkbLineFromCoords($"pts")).as("np"),
      Wkb.wkbGeometryType(Wkb.wkbLineFromCoords($"pts")).as("gt"),
      size($"pts").as("n")).collect()
    rt.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"row ${r.getLong(0)}")
      assert(r.getInt(3) == r.getInt(5) && r.getInt(4) == 2)
    }
  }

  test("WkbPolygonFromCoords closes an open ring exactly once") {
    val rt = coordsDf.filter($"id" === 1L).select(
      Wkb.wkbCoords(Wkb.wkbPolygonFromCoords($"pts")).as("back"),
      Wkb.wkbNumPoints(Wkb.wkbPolygonFromCoords($"pts")).as("np"),
      Wkb.wkbGeometryType(Wkb.wkbPolygonFromCoords($"pts")).as("gt"),
      // encoding the already-closed decode output must NOT append again
      Wkb.wkbNumPoints(Wkb.wkbPolygonFromCoords(
        Wkb.wkbCoords(Wkb.wkbPolygonFromCoords($"pts")))).as("np2")).head()
    val back = rt.getSeq[org.apache.spark.sql.Row](0)
    assert(back.length == 4 && back.head == back.last)
    assert(rt.getInt(1) == 4 && rt.getInt(2) == 3 && rt.getInt(3) == 4)
  }

  test("WkbCoords honors the big-endian byte-order marker") {
    // Hand-build a BE LineString: 00 | 00000002 | 00000002 | 2 pts
    val buf = java.nio.ByteBuffer.allocate(9 + 32).order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.put(0.toByte).putInt(2).putInt(2)
      .putDouble(1.0).putDouble(2.0).putDouble(-3.5).putDouble(4.25)
    val df = Seq(Tuple1(buf.array())).toDF("g")
    val out = df.select(Wkb.wkbCoords($"g").as("c"), Wkb.wkbNumPoints($"g").as("np")).head()
    val c = out.getSeq[org.apache.spark.sql.Row](0)
    assert(out.getInt(1) == 2 && c.map(r => (r.getDouble(0), r.getDouble(1))) ==
      Seq((1.0, 2.0), (-3.5, 4.25)))
  }

  test("WkbCoords / WkbNumPoints null (not throw) on malformed or unsupported blobs") {
    val blobs = Seq(
      Array[Byte](),                       // empty
      Array[Byte](1, 2, 0, 0),             // truncated header
      Array[Byte](1, 7, 0, 0, 0, 9, 9),    // GeometryCollection: unsupported
      { // LineString header claiming more points than the buffer holds
        val b = java.nio.ByteBuffer.allocate(9).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put(1.toByte).putInt(2).putInt(1000); b.array()
      })
    val df = blobs.map(Tuple1(_)).toDF("g")
    val out = df.select(Wkb.wkbCoords($"g"), Wkb.wkbNumPoints($"g")).collect()
    out.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1)))
  }

  test("EWKB SRID payload is skipped, never read as coordinates") {
    // PostGIS-style EWKB: type word carries flag 0x20000000 and a
    // 4-byte SRID FOLLOWS it. Before round 8 the flag was masked but
    // the payload not skipped — coordinates came back silently shifted
    // by 4 bytes. Pin the correct decode for all three base types.
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val sridPoint = le(25).put(1.toByte).putInt(0x20000001).putInt(4326)
      .putDouble(11.5).putDouble(-7.25).array()
    val sridLine = le(45).put(1.toByte).putInt(0x20000002).putInt(4326).putInt(2)
      .putDouble(1.0).putDouble(2.0).putDouble(3.0).putDouble(4.0).array()
    val sridPoly = le(65).put(1.toByte).putInt(0x20000003).putInt(3857).putInt(1).putInt(3)
      .putDouble(0.0).putDouble(0.0).putDouble(5.0).putDouble(0.0)
      .putDouble(0.0).putDouble(0.0).array()
    val df = Seq((1, sridPoint), (2, sridLine), (3, sridPoly)).toDF("id", "g")
    val out = df.orderBy("id").select(
      Wkb.wkbCoords($"g").as("c"), Wkb.wkbNumPoints($"g").as("np"),
      Wkb.wkbGeometryType($"g").as("gt")).collect()
    def xy(r: org.apache.spark.sql.Row, i: Int) =
      r.getSeq[org.apache.spark.sql.Row](i).map(p => (p.getDouble(0), p.getDouble(1)))
    assert(xy(out(0), 0) == Seq((11.5, -7.25)) && out(0).getInt(1) == 1 && out(0).getInt(2) == 1)
    assert(xy(out(1), 0) == Seq((1.0, 2.0), (3.0, 4.0)) && out(1).getInt(1) == 2 && out(1).getInt(2) == 2)
    assert(xy(out(2), 0) == Seq((0.0, 0.0), (5.0, 0.0), (0.0, 0.0)) && out(2).getInt(1) == 3 && out(2).getInt(2) == 3)
    // An SRID-flagged blob whose payload is truncated must null out.
    val truncated = le(7).put(1.toByte).putInt(0x20000001).putShort(0.toShort).array()
    val t = Seq(Tuple1(truncated)).toDF("g")
      .select(Wkb.wkbCoords($"g"), Wkb.wkbNumPoints($"g")).head()
    assert(t.isNullAt(0) && t.isNullAt(1))
  }

  test("WkbPathLength matches the decode→HOF fold bit-for-bit; Point 0, ring perimeter as stored") {
    val coords = Seq(
      (1L, Seq((0.0, 0.0), (3.0, 4.0), (3.0, 8.5), (-1.0, 8.5))),
      (2L, Seq((2.25, -1.5), (2.25, -1.5))), // zero-length segment
      (3L, Seq((1.0, 1.0), (4.0, 5.0)))
    ).toDF("id", "pts")
      .select($"id", expr("transform(pts, p -> struct(p._1 as x, p._2 as y))").as("coords"))
    val geoms = coords.select($"id",
      Wkb.wkbLineFromCoords($"coords").as("line"),
      Wkb.wkbPolygonFromCoords($"coords").as("poly"))
    // Composed twin: decode, per-segment distances, sequential fold.
    def hofLen(g: org.apache.spark.sql.Column) = {
      val ring = Wkb.wkbCoords(g)
      aggregate(
        transform(sequence(lit(2), size(ring)), i =>
          sqrt(
            (element_at(ring, i).getField("x") - element_at(ring, i - 1).getField("x")) *
              (element_at(ring, i).getField("x") - element_at(ring, i - 1).getField("x")) +
              (element_at(ring, i).getField("y") - element_at(ring, i - 1).getField("y")) *
                (element_at(ring, i).getField("y") - element_at(ring, i - 1).getField("y")))),
        lit(0.0), (a, v) => a + v)
    }
    val rows = geoms.select(
      Wkb.wkbPathLength($"line").as("nl"), hofLen($"line").as("hl"),
      Wkb.wkbPathLength($"poly").as("np"), hofLen($"poly").as("hp")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"line: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"poly (perimeter incl. closing vertex): $r")
    }
    // Point → 0; malformed/unsupported → null (same classes as WkbCoords).
    val point = Seq(Tuple1(Wkb.encodePointXY(7.0, -2.0))).toDF("g")
    assert(point.select(Wkb.wkbPathLength($"g")).head().getDouble(0) == 0.0)
    val bad = Seq(
      Array[Byte](),
      Array[Byte](1, 7, 0, 0, 0, 9, 9),
      { val b = java.nio.ByteBuffer.allocate(9).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put(1.toByte).putInt(2).putInt(1000); b.array() })
    bad.map(Tuple1(_)).toDF("g").select(Wkb.wkbPathLength($"g")).collect()
      .foreach(r => assert(r.isNullAt(0)))
    // EWKB SRID payload skipped: same SRID LineString as the decode
    // spec must measure the true segment, not SRID-shifted bytes.
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val sridLine = le(45).put(1.toByte).putInt(0x20000002).putInt(4326).putInt(2)
      .putDouble(0.0).putDouble(0.0).putDouble(3.0).putDouble(4.0).array()
    assert(Seq(Tuple1(sridLine)).toDF("g")
      .select(Wkb.wkbPathLength($"g")).head().getDouble(0) == 5.0)
    // A NaN COORDINATE is a data fact, not a malformed blob: the HOF
    // twin folds it to NaN, and Spark ranks NaN above every numeric
    // (a `length > ε` filter keeps the row) — so the native path must
    // return NaN, never null (null would silently drop the row).
    val nanLine = le(41).put(1.toByte).putInt(2).putInt(2)
      .putDouble(0.0).putDouble(Double.NaN).putDouble(3.0).putDouble(4.0).array()
    val nanOut = Seq(Tuple1(nanLine)).toDF("g")
      .select(Wkb.wkbPathLength($"g").as("l"), hofLen($"g").as("h")).head()
    assert(!nanOut.isNullAt(0) && nanOut.getDouble(0).isNaN && nanOut.getDouble(1).isNaN)
    assert(Seq(Tuple1(nanLine)).toDF("g")
      .select(Wkb.wkbPathLength($"g") > 1e-10).head().getBoolean(0),
      "NaN length must survive a finite-threshold filter, as on the HOF path")
  }

  test("WkbRingStats matches decode→strip→polygonArea/polygonCentroid bit-for-bit") {
    import graft.operators.Geo
    val rings = Seq(
      (1L, Seq((0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 3.0))), // CCW rectangle
      (2L, Seq((0.0, 0.0), (0.0, 3.0), (4.0, 3.0), (4.0, 0.0))), // CW (negative area)
      (3L, Seq((1.0, 1.0), (5.5, 2.0), (3.0, 6.0), (-1.0, 4.5), (0.5, 2.0))),
      (4L, Seq((2.0, 2.0), (7.0, 2.0), (7.0, 2.0), (4.0, 8.0))), // duplicate vertex
      (5L, Seq((0.0, 0.0), (2.0, 0.0), (3.0, 1.5), (0.0, 0.0)))  // pre-closed input
    ).toDF("id", "pts")
      .select($"id", expr("transform(pts, p -> struct(p._1 as x, p._2 as y))").as("coords"))
    val geoms = rings.select($"id", Wkb.wkbPolygonFromCoords($"coords").as("geom"))
    // Composed twin: decode as stored, strip the closing vertex, run
    // the three HOF shoelace folds.
    val stored = Wkb.wkbCoords($"geom")
    val ring = slice(stored, lit(1), size(stored) - 1)
    val rows = geoms.select(
      Wkb.wkbRingStats($"geom").as("s"),
      Geo.polygonArea(ring).as("a"),
      Geo.polygonCentroid(ring).as("c")).collect()
    rows.foreach { r =>
      val s = r.getStruct(0)
      val c = r.getStruct(2)
      assert(s.getDouble(0) == r.getDouble(1), s"area: $r")
      assert(s.getDouble(1) == c.getDouble(0), s"cx: $r")
      assert(s.getDouble(2) == c.getDouble(1), s"cy: $r")
    }
    // Malformed/unsupported blobs null out, same classes as WkbCoords.
    val bad = Seq(Array[Byte](), Array[Byte](1, 7, 0, 0, 0, 9, 9))
    bad.map(Tuple1(_)).toDF("g").select(Wkb.wkbRingStats($"g")).collect()
      .foreach(r => assert(r.isNullAt(0)))
  }

  test("Z/M ordinates decode as their 2D projection with correct stride") {
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // ISO LineString Z (type 1002): 2 vertices of 3 doubles each.
    val isoZ = le(9 + 2 * 24).put(1.toByte).putInt(1002).putInt(2)
      .putDouble(1.0).putDouble(2.0).putDouble(99.0)
      .putDouble(3.0).putDouble(4.0).putDouble(88.0).array()
    // EWKB LineString ZM (flags Z|M): 1 vertex of 4 doubles.
    val ewkbZM = le(9 + 32).put(1.toByte).putInt(0x80000000 | 0x40000000 | 2).putInt(1)
      .putDouble(-5.0).putDouble(6.5).putDouble(7.0).putDouble(8.0).array()
    val df = Seq((1, isoZ), (2, ewkbZM)).toDF("id", "g")
    val out = df.orderBy("id").select(
      Wkb.wkbCoords($"g").as("c"), Wkb.wkbNumPoints($"g").as("np")).collect()
    def xy(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](0).map(p => (p.getDouble(0), p.getDouble(1)))
    // Pre-fix, the Z stride shifted vertex 2 to (99.0, 3.0) — pin the
    // projected values exactly.
    assert(xy(out(0)) == Seq((1.0, 2.0), (3.0, 4.0)) && out(0).getInt(1) == 2)
    assert(xy(out(1)) == Seq((-5.0, 6.5)) && out(1).getInt(1) == 1)
  }
}
