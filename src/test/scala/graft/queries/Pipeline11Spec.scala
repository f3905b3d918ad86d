package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline11Spec extends SparkSpec {

  // ---- q_seasonal_index ----

  test("q_seasonal_index recomputed from scratch driver-side") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val rows = t.events
      .select(col("event_type"), expr("unix_micros(ts)").as("us"), col("value"))
      .collect()
      .map { case Row(et: String, us: Long, v: Double) =>
        (et, (us / 86400000000L) % 7, math.round(v * 10000))
      }
    val perType = rows.groupBy(_._1).map { case (et, rs) =>
      et -> ((rs.map(r => BigInt(r._3)).sum, rs.size.toLong))
    }
    val expected = rows.groupBy(r => (r._1, r._2)).map { case ((et, dow), rs) =>
      val (sumAll, cntAll) = perType(et)
      val sumDow = rs.map(r => BigInt(r._3)).sum
      (et, dow) -> ((rs.size.toLong,
        (sumDow * cntAll * 1000000 / (BigInt(rs.size) * sumAll)).toLong))
    }
    val got = Pipeline11.qSeasonalIndex(tables).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
  }

  // ---- q_holt ----

  /** Independent replay of the Holt recurrence in plain Scala. */
  private def refHolt(xs: Seq[Long]): (Long, Long) = {
    var l = xs(0)
    var b = xs(1) - xs(0)
    for (x <- xs.drop(1)) {
      val l2 = (3 * x + 7 * (l + b)) / 10
      val b2 = ((l2 - l) + 9 * b) / 10
      l = l2; b = b2
    }
    (l, b)
  }

  test("q_holt matches a driver-side replay of the recurrence") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val daily = t.events
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("d"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v"))
      .groupBy(col("event_type"), col("d")).agg(sum(col("v")).as("x"))
      .collect().map { case Row(et: String, d: Long, x: Long) => (et, d, x) }
    val expected = daily.groupBy(_._1).collect {
      case (et, rs) if rs.length >= 2 =>
        val xs = rs.sortBy(_._2).map(_._3).toSeq
        val (l, b) = refHolt(xs)
        et -> ((xs.size.toLong, l, b, l + 7 * b))
    }
    val got = Pipeline11.qHolt(tables).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected.toMap)
    assert(got.nonEmpty)
  }

  test("holt recurrence handles negative trend identically to SQL // (trunc)") {
    // -7/10 must be 0 (trunc), not -1 (floor) — matches DuckDB's //.
    assert((-7L) / 10L == 0L)
    val (l, b) = refHolt(Seq(1000L, 100L, 50L))
    assert(b < 0)
  }

  // ---- tx_rake_keywords ----

  test("tx_rake_keywords phrases contain no stopwords and scores are consistent") {
    val rows = Pipeline11.txRakeKeywords(tables).collect()
    assert(rows.length == 20)
    val stop = Pipeline11.RakeStopwords.toSet
    rows.foreach { r =>
      val phrase = r.getAs[String]("phrase")
      assert(phrase.split(" ").forall(w => !stop.contains(w)), s"stopword in: $phrase")
      assert(r.getAs[Long]("n_occurrences") >= 1L)
      assert(r.getAs[Long]("score_fx") > 0L)
    }
    // ranks strictly ordered
    val byRank = rows.sortBy(_.getAs[Long]("rank"))
    byRank.sliding(2).foreach {
      case Array(a, b) =>
        val (sa, sb) = (a.getAs[Long]("score_fx"), b.getAs[Long]("score_fx"))
        assert(sa > sb ||
          (sa == sb && a.getAs[String]("phrase") < b.getAs[String]("phrase")))
      case _ => ()
    }
  }

  test("rake islands split exactly at stopwords on a constructed doc") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta the gamma delta a epsilon"))
      .toDF("doc_id", "text")
    // run the same phrase-extraction stages on a fixture via a tiny
    // inlined pipeline: phrases must be the three stopword-free runs
    val toks = df.select(col("doc_id"),
      posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
    val nonstop = toks.filter(!col("tok").isInCollection(Pipeline11.RakeStopwords))
    val islands = nonstop.withColumn("grp",
      col("pos") - org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("pos"))))
    val phrases = islands.groupBy(col("doc_id"), col("grp"))
      .agg(expr("array_join(transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok), ' ')").as("phrase"))
      .collect().map(_.getString(2)).sorted
    assert(phrases.toSeq == Seq("alpha beta", "epsilon", "gamma delta"))
  }

  // ---- tx_compress_ratio / DeflateLen ----

  test("deflate ratio separates repetitive from high-entropy text and is deterministic") {
    val rep = "spark " * 200
    val rnd = new scala.util.Random(42)
    val noisy = Array.fill(1200)((rnd.nextInt(94) + 33).toChar).mkString
    val d1 = graft.functions.DeflateLen.deflatedLength(rep.getBytes("UTF-8"))
    val d1b = graft.functions.DeflateLen.deflatedLength(rep.getBytes("UTF-8"))
    val d2 = graft.functions.DeflateLen.deflatedLength(noisy.getBytes("UTF-8"))
    assert(d1 == d1b)
    assert(d1 * 10 < rep.length, "repetitive text must compress >10x")
    assert(d2 * 2 > noisy.length, "high-entropy text must not compress 2x")
  }

  test("tx_compress_ratio rows are bounded and the SQL function is registered") {
    val df = Pipeline11.txCompressRatio(tables)
    val rows = df.collect()
    assert(rows.length == graft.Tables(spark, sfDir).documents.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("deflate_len") > 0L)
      // word-soup documents always deflate below 1.05x of raw
      assert(r.getAs[Long]("ratio_fx") <= 1050000L, s"ratio too high: $r")
      assert(r.getAs[Long]("ratio_fx") > 0L)
    }
    // Column-API expression agrees with the static helper (the
    // SQL-registered `graft_deflate_len` form is covered in
    // FunctionsSpec's extensions test, which owns the
    // fresh-session-with-extensions dance).
    import spark.implicits._
    val viaExpr = Seq(Tuple1("a" * 24)).toDF("t")
      .select(graft.functions.DeflateLen(col("t"))).head().getLong(0)
    assert(viaExpr ==
      graft.functions.DeflateLen.deflatedLength("a" * 24 getBytes "UTF-8"))
  }
}
