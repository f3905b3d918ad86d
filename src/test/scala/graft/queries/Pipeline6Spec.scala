package graft.queries

import graft.SparkSpec
import graft.functions.CmsCountLong
import graft.operators.{Geo, HeavyHitters, RuntimeFilter, Urls}
import org.apache.spark.sql.functions._

class Pipeline6Spec extends SparkSpec {

  // ---- q_bloom_join / RuntimeFilter ----

  test("q_bloom_join: bloom-prefiltered join equals the plain join exactly") {
    import spark.implicits._
    val t = tables
    val dim = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val plain = t.lineitem.join(dim, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus", $"l_returnflag")
      .agg(count(lit(1)).as("n"), countDistinct($"l_orderkey").as("n_orders"),
        round(sum($"l_quantity".cast("decimal(18,2)")).cast("double"), 4).as("sum_qty"))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val bloomed = Pipeline6.qBloomJoin(tables)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(bloomed.toSeq == plain.toSeq)
  }

  test("RuntimeFilter.bloomProbe actually prunes the probe side") {
    val t = tables
    val dim = t.orders.filter(col("o_orderpriority") === "1-URGENT")
    val probe = RuntimeFilter
      .bloomProbe(col("l_orderkey"), dim, "o_orderkey").get
    val total = t.lineitem.count()
    val surviving = t.lineitem.filter(probe).count()
    // ~20% of orders are urgent; at fpp=1% the survivor fraction
    // must sit far below the full table (this is the whole point —
    // the join's exchange sees the pruned stream).
    assert(surviving < total / 2,
      s"bloom prefilter kept $surviving of $total rows")
  }

  test("RuntimeFilter.bloomJoin with an empty build side is empty, schema intact") {
    val t = tables
    val none = t.orders.filter(col("o_orderpriority") === "no-such")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val out = RuntimeFilter.bloomJoin(t.lineitem, none, "l_orderkey", "o_orderkey")
    assert(out.isEmpty)
    assert(out.columns.contains("o_orderstatus") && out.columns.contains("l_orderkey"))
  }

  // ---- q_heavy_hitters / HeavyHitters ----

  test("q_heavy_hitters: equals the brute-force GROUP BY ... HAVING") {
    val li = tables.lineitem
    val key = when(pmod(col("l_orderkey"), lit(3)) === 0,
      pmod(col("l_partkey"), lit(16))).otherwise(col("l_partkey"))
    val total = li.count()
    val threshold = math.ceil(0.005 * total).toLong
    val brute = li.select(key.as("key")).groupBy("key")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .withColumn("frac", round(col("n").cast("double") / total.toDouble, 4))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val sketched = Pipeline6.qHeavyHitters(tables)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(sketched.toSeq == brute.toSeq)
    assert(sketched.nonEmpty, "threshold selects nothing — the query tests nothing")
  }

  test("HeavyHitters: the CMS candidate pass prunes rows before the exact groupBy") {
    val li = tables.lineitem
    val key = when(pmod(col("l_orderkey"), lit(3)) === 0,
      pmod(col("l_partkey"), lit(16))).otherwise(col("l_partkey"))
    val keyed = li.select(key.as("key"))
    val total = keyed.count()
    val threshold = math.ceil(0.005 * total).toLong
    val cms = keyed.stat.countMinSketch(col("key"), 5e-4, 0.99, 42)
    val bos = new java.io.ByteArrayOutputStream()
    cms.writeTo(bos)
    val surviving = keyed
      .filter(CmsCountLong(col("key"), bos.toByteArray) >= threshold)
      .count()
    // The skew puts ~1/3 of rows on the 16 hot buckets; the uniform
    // long tail must be filtered out map-side, not carried into the
    // exact aggregation.
    assert(surviving < total / 2,
      s"CMS prefilter kept $surviving of $total rows")
  }

  // ---- dd_url_dedup / Urls ----

  test("Urls.canonicalizeUrl: canonical forms of known variants") {
    import spark.implicits._
    val cases = Seq(
      // scheme+host case, default https port, fragment
      ("HTTPS://WWW.Example.COM:443/A/b#frag", "https://www.example.com/A/b"),
      // default http port, trailing slashes
      ("http://example.com:80/path//", "http://example.com/path"),
      // non-default port kept
      ("http://example.com:8080/p", "http://example.com:8080/p"),
      // utm params stripped, others kept sorted
      ("https://e.com/p?utm_source=x&b=2&a=1", "https://e.com/p?a=1&b=2"),
      // all params stripped -> no '?'
      ("https://e.com/p?utm_source=x&utm_b=1", "https://e.com/p"),
      // bare host, no path or query
      ("https://E.com", "https://e.com")
    ).toDF("url", "expected")
    val bad = cases
      .withColumn("canon", Urls.canonicalizeUrl(col("url")))
      .filter(col("canon") =!= col("expected"))
    assert(bad.isEmpty, bad.collect().mkString("; "))
  }

  test("dd_url_dedup: partitions the corpus (mass conserved, collapse non-trivial)") {
    val docs = tables.documents
    val out = Pipeline6.ddUrlDedup(tables).cache()
    try {
      val total = docs.count()
      val mass = out.agg(sum(col("n_dups"))).collect()(0).getLong(0)
      assert(mass == total, s"dedup groups cover $mass of $total docs")
      assert(out.count() < total, "no URL variant collapsed — the dedup tests nothing")
      // keep_doc must be a member of its own group: re-derive its
      // canonical URL and compare.
      val keyed = docs
        .select(col("doc_id").as("keep_doc"),
          Urls.canonicalizeUrl(Pipeline6.syntheticUrl).as("canon_check"))
      val bad = out.join(keyed, Seq("keep_doc"))
        .filter(col("canon_check") =!= col("canon_url"))
      assert(bad.isEmpty)
    } finally out.unpersist()
  }

  // ---- geo_geohash / Geo.geohash ----

  test("Geo.geohash matches the published geohash test vectors") {
    import spark.implicits._
    val cases = Seq(
      // The canonical example from the original geohash spec.
      (57.64911, 10.40744, "u4pruydq"),
      (0.0, 0.0, "s0000000"),
      (-90.0, -180.0, "00000000"),
      // Top corner clamps to the last cell.
      (90.0, 180.0, "zzzzzzzz"),
      (48.858222, 2.2945, "u09tunqg") // Eiffel tower
    ).toDF("lat", "lon", "expected")
    val bad = cases
      .withColumn("gh", Geo.geohash(col("lat"), col("lon")))
      .filter(col("gh") =!= col("expected"))
    assert(bad.isEmpty, bad.collect().mkString("; "))
  }

  test("geo_geohash: one key per event, prefix is the bucket") {
    val out = Pipeline6.geoGeohash(tables).cache()
    try {
      assert(out.count() == tables.events.count())
      val bad = out.filter(length(col("gh")) =!= 8 ||
        col("gh4") =!= substring(col("gh"), 1, 4))
      assert(bad.isEmpty)
    } finally out.unpersist()
  }

  // ---- tx_readability ----

  test("readability: exact values on a hand-counted text") {
    import spark.implicits._
    // 6 words, 2 sentence runs, 6 single-vowel-group syllables:
    // wps=3.0, spw=1.0, flesch = 206.835 - 3.045 - 84.6 = 119.19.
    val docs = Seq((1L, "The cat sat. The dog ran.")).toDF("doc_id", "text")
    val r = Pipeline6.readability(docs).collect()(0)
    assert(r.getAs[Long]("n_words") == 6L)
    assert(r.getAs[Long]("n_sents") == 2L)
    assert(r.getAs[Long]("n_syll") == 6L)
    assert(r.getAs[Double]("flesch") == 119.19)
  }

  test("tx_readability: derived columns re-derive from the counts") {
    val out = Pipeline6.txReadability(tables)
    val bad = out.filter(
      col("wps") =!= round(col("n_words").cast("double") / col("n_sents").cast("double"), 4) ||
        col("spw") =!= round(col("n_syll").cast("double") / col("n_words").cast("double"), 4) ||
        col("flesch") =!= round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 4) ||
        col("n_sents") < 1)
    assert(bad.isEmpty)
  }
}
