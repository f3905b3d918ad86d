package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline37Spec extends SparkSpec {

  test("q_hits equals an exact fixed-point driver replay") {
    val edges = tables.orders
      .join(tables.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    def normalize(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * 1000000L / mx }
    }
    def half(prev: Map[Long, Long], byU: Boolean): Map[Long, Long] = normalize(
      edges.groupBy(e => if (byU) e._2 else e._1).map { case (k, es) =>
        k -> es.map(e => prev(if (byU) e._1 else e._2)).sum
      })
    val h0 = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
    val a1 = half(h0, byU = true)
    val h1 = half(a1, byU = false)
    val a2 = half(h1, byU = true)
    val h2 = half(a2, byU = false)
    def top10(m: Map[Long, Long]) =
      m.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Pipeline37.qHits(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val gotAuth = got.filter(_._1 == "authority").map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1))
    val gotHub = got.filter(_._1 == "hub").map(r => (r._2, r._3)).sortBy(r => (-r._2, r._1))
    assert(gotAuth.toSeq == top10(a2))
    assert(gotHub.toSeq == top10(h2))
    // The best node on each side carries exactly 10^6.
    assert(gotAuth.head._2 == 1000000L && gotHub.head._2 == 1000000L)
  }

  private def polyKey(bigram: String): Long = {
    var acc = 7L
    bigram.foreach { c => acc = (acc * 31L + c.toLong) % 1000000007L }
    (acc * 2654435761L + 1013904223L) % 1000000007L
  }

  private def bigrams(text: String): Set[String] = {
    val t = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < 2) Set.empty
    else t.sliding(2).map(_.mkString(" ")).toSet
  }

  test("dd_kmv_overlap equals a driver KMV replay and tracks exact Jaccard") {
    val docs = tables.documents.select(col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(d => bigrams(d._2)).toSet
    }
    val keysBySrc = bySrc.map { case (s, bgs) => s -> bgs.map(polyKey) }
    val kmv = keysBySrc.map { case (s, ks) => s -> ks.toSeq.sorted.take(256).toSet }
    val expected = mutable.Map.empty[(String, String), (Long, Long)]
    val srcs = kmv.keys.toSeq.sorted
    for (i <- srcs.indices; j <- (i + 1) until srcs.length) {
      val (a, b) = (srcs(i), srcs(j))
      val union = (kmv(a) ++ kmv(b)).toSeq.sorted.take(256)
      val kUsed = union.length.toLong
      val inter = union.count(k => kmv(a).contains(k) && kmv(b).contains(k)).toLong
      expected((a, b)) = ((kUsed, inter * 1000000L / kUsed))
    }
    val got = Pipeline37.ddKmvOverlap(tables).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) => assert(v == expected(k), s"pair $k") }

    // Estimator quality: within 0.1 absolute of the exact bigram
    // Jaccard for every pair (k = 256 ⇒ σ ≈ 1/√256 ≈ 0.0625).
    got.foreach { case ((a, b), (_, estPpm)) =>
      val inter = (keysBySrc(a) intersect keysBySrc(b)).size.toDouble
      val uni = (keysBySrc(a) union keysBySrc(b)).size.toDouble
      val exact = if (uni == 0) 0.0 else inter / uni
      assert(math.abs(estPpm / 1e6 - exact) < 0.1,
        s"pair ($a,$b): est ${estPpm / 1e6} vs exact $exact")
    }
  }

  test("q_asof_join_native runs through AsOfJoinExec and matches the composed operator") {
    val native = Pipeline37.qAsofJoinNative(tables)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n${plan.take(1500)}")
    val composed = Analytic2.qAsofJoin(tables)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sortBy(identity[(Long, Long, Long)])
    assert(canon(native).toSeq == canon(composed).toSeq)
  }

  test("AsOfJoinNative edge semantics: ties inclusive, no match, null keys") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 10L, 50L), (3L, 20L, 10L), (4L, 30L, 99L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 100L, 7L), (10L, 90L, 6L), (20L, 11L, 5L), (40L, 1L, 9L))
      .toDF("rk", "rt", "pay")
    val out = graft.plans.AsOfJoinNative
      .lastBefore(left, right, "k", "rk", "t", "rt", Seq("pay"))
      .select($"id", $"pay").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // id 1: tie at t=100 included -> pay 7; id 2: only rt<=50 none -> null;
    // id 3: rt=11 > 10 -> null; id 4: key 30 unseen -> null.
    assert(out == Map(1L -> 7L, 2L -> -1L, 3L -> -1L, 4L -> -1L))
  }

  test("AsOfJoinNative emits UnsafeRow: bare collect with no Project on top") {
    // Round-8 advice: executeCollect's byte-array path casts produced
    // rows to UnsafeRow, so collecting the node's RAW output (no
    // projection above it) threw ClassCastException before the
    // result-projection fix. This is exactly that call shape.
    import spark.implicits._
    val left = Seq((1L, 10L, 100L)).toDF("id", "k", "t")
    val right = Seq((10L, 90L, 6L)).toDF("rk", "rt", "pay")
    val rows = graft.plans.AsOfJoinNative
      .lastBefore(left, right, "k", "rk", "t", "rt", Seq("pay"))
      .collect()
    assert(rows.length == 1 && rows(0).getLong(3) == 6L)
  }

  test("AsOfJoinNative null times: right null-time rows never match, left null-time rows emit unmatched") {
    // SQL as-of semantics: l.t >= r.t is never true through a null on
    // either side. Pre-fix these rows NPE'd the merge comparator.
    import spark.implicits._
    val left = Seq(
      (1L, java.lang.Long.valueOf(100L)),
      (2L, null.asInstanceOf[java.lang.Long])
    ).toDF("k", "t").selectExpr("monotonically_increasing_id() as id", "k", "t")
      .selectExpr("k as id", "k", "t") // id = k for assertion simplicity
    val right = Seq(
      (1L, java.lang.Long.valueOf(90L), 6L),
      (1L, null.asInstanceOf[java.lang.Long], 7L), // null time: discard
      (2L, java.lang.Long.valueOf(10L), 8L)
    ).toDF("rk", "rt", "pay")
    val out = graft.plans.AsOfJoinNative
      .lastBefore(left, right, "k", "rk", "t", "rt", Seq("pay"))
      .select($"id", $"pay").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // k=1 t=100 matches rt=90 pay 6 (never the null-time pay-7 row);
    // k=2 t=null is unmatched even though rt=10 pay-8 exists.
    assert(out == Map(1L -> 6L, 2L -> -1L))
  }
}
