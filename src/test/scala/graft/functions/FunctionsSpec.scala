package graft.functions

import graft.{GraftSession, SparkSpec}
import graft.operators.{HofReference, TextOps}
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("RollingHash native expression matches the HOF formulation on real docs") {
    val diff = tables.documents
      .select(TextOps.fingerprint(col("text")).as("native"),
        HofReference.fingerprintHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diff == 0)
  }

  test("RollingHash known value") {
    // h("ab") = (0*31+97)*31 + 98 = 3105
    val h = Seq("ab").toDF("t").select(RollingHash(col("t"))).head().getLong(0)
    assert(h == 97L * 31 + 98)
  }

  test("WkbPointXY decodes little-endian point WKB") {
    val wkb = Wkb.encodePoint((12.5, -3.25))
    val r = Seq(Tuple1(wkb)).toDF("g").select(Wkb.wkbPointXY(col("g")).as("p"))
      .select("p.x", "p.y").head()
    assert(r.getDouble(0) == 12.5 && r.getDouble(1) == -3.25)
  }

  test("WkbPointXY decodes big-endian and nulls on non-points") {
    val be = java.nio.ByteBuffer.allocate(21)
    be.put(0.toByte).putInt(1).putDouble(1.0).putDouble(2.0)
    val line = java.nio.ByteBuffer.allocate(21)
    line.put(1.toByte).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(2).putDouble(0).putDouble(0)
    val out = Seq(Tuple1(be.array()), Tuple1(line.array()), Tuple1(Array[Byte](1)))
      .toDF("g").select(Wkb.wkbPointXY(col("g")).as("p")).collect()
    assert(out(0).getStruct(0).getDouble(0) == 1.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("WkbGeometryType reads the type code for the family split") {
    val rows = Seq(1, 2, 3, 6).map { t =>
      val b = java.nio.ByteBuffer.allocate(5).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).putInt(t)
      Tuple1(b.array())
    }
    val out = rows.toDF("g").select(Wkb.wkbGeometryType(col("g"))).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(1, 2, 3, 6))
  }

  test("WkbGeometryType strips ISO Z/M offsets and EWKB flags (regression)") {
    def wkbType(t: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(5).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte).putInt(t.toInt)
      b.array()
    }
    val rows = Seq(1001L /* PointZ */, 2003L /* PolygonM */, 3002L /* LineStringZM */,
      0x80000001L /* EWKB Z Point */).map(t => Tuple1(wkbType(t)))
    val out = rows.toDF("g").select(Wkb.wkbGeometryType(col("g"))).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(1, 3, 2, 1))
  }

  test("GraftExtensions exposes SQL functions") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive  = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // Fresh session (shared SparkContext) so withExtensions applies.
      val s = GraftSession
        .builder(master = "local[2]", shufflePartitions = 2, appName = "graft-ext-test")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      val h = s.sql("SELECT graft_rolling_hash('ab') AS h").head().getLong(0)
      assert(h == 97L * 31 + 98)
      val dl = s.sql("SELECT graft_deflate_len('aaaaaaaaaaaaaaaaaaaaaaaa') AS d")
        .head().getLong(0)
      assert(dl ==
        graft.functions.DeflateLen.deflatedLength(("a" * 24).getBytes("UTF-8")))
      val t = s.sql("SELECT graft_wkb_type(X'0101000000') AS t").head().getInt(0)
      assert(t == 1)
      val c = s.sql(
        "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head().getDouble(0)
      assert(c == 1.0)
      val jwv = s.sql("SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS j")
        .head().getDouble(0)
      assert(math.abs(jwv - 0.9611111111111111) < 1e-12)
      val bg = s.sql("SELECT graft_word_bigrams('a b c') AS b").head().getSeq[String](0)
      assert(bg == Seq("a b", "b c"))
      val rt = s.sql("SELECT graft_wkb_point(graft_wkb_from_xy(2.5D, -3.5D)) AS p")
        .selectExpr("p.x", "p.y").head()
      assert(rt.getDouble(0) == 2.5 && rt.getDouble(1) == -3.5)
      val mh = s.sql("SELECT graft_minhash('a b c d e', 3, 8, 42) AS m").head().getSeq[Long](0)
      assert(mh.length == 8 && mh.forall(_ < 2147483647L))
      // winnowing stats: 6 tokens -> 4 shingles -> 1 full window
      val ws = s.sql("SELECT graft_winnow_stats('a b c d e f', 3, 4) AS w")
        .selectExpr("w.n_fp", "w.min_fp", "w.max_fp").head()
      assert(ws.getLong(0) == 1L && ws.getLong(1) == ws.getLong(2))
      assert(s.sql("SELECT graft_winnow_stats('a b c', 3, 4) AS w")
        .head().isNullAt(0))
      // shingle hashes: 4 tokens -> 2 trigram hashes, 'a b c' first
      val sh = s.sql("SELECT graft_shingle_hashes('a b c d', 3) AS h")
        .head().getSeq[Long](0)
      val abc = s.sql("SELECT graft_rolling_hash('a b c') AS h").head().getLong(0)
      assert(sh.length == 2 && sh.head == abc)
      // line/polygon codecs round-trip through SQL, header count reads
      val ln = s.sql(
        """SELECT graft_wkb_coords(graft_wkb_line(array(
          |  named_struct('x', 1.0D, 'y', 2.0D),
          |  named_struct('x', 3.0D, 'y', 4.0D)))) AS c""".stripMargin)
        .selectExpr("c[0].x", "c[1].y").head()
      assert(ln.getDouble(0) == 1.0 && ln.getDouble(1) == 4.0)
      val np = s.sql(
        """SELECT graft_wkb_num_points(graft_wkb_polygon(array(
          |  named_struct('x', 0.0D, 'y', 0.0D),
          |  named_struct('x', 1.0D, 'y', 0.0D),
          |  named_struct('x', 1.0D, 'y', 1.0D)))) AS n""".stripMargin).head().getInt(0)
      assert(np == 4) // encoder appended the closing vertex
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  // Note: the `spark.sql.extensions=graft.GraftExtensions` config
  // route is only honored when the SparkContext itself is created
  // (spark-submit / fresh JVM); it cannot be spec'd against the
  // suite's shared context, so the withExtensions test above is the
  // in-JVM coverage.
}
