package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline23Spec extends SparkSpec {

  test("q_lorenz deciles recomputed from the ntile closed form") {
    val perCust = tables.orders
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
    val sorted = perCust.sortBy { case (ck, c) => (c, ck) }
    val n = sorted.length.toLong
    def tile(i: Long): Long = {
      val q = n / 10; val r = n % 10; val cut = r * (q + 1)
      if (i < cut) i / (q + 1) + 1 else (i - cut) / math.max(q, 1L) + r + 1
    }
    val byDec = sorted.zipWithIndex
      .map { case ((_, c), i) => (tile(i.toLong), c) }
      .groupBy(_._1).view.mapValues(xs => (xs.length.toLong, xs.map(_._2).sum))
      .toMap
    val all = byDec.values.map(_._2).sum
    var cum = 0L
    val expected = (1L to 10L).map { d =>
      val (nc, cents) = byDec(d)
      cum += cents
      d -> ((nc, cents, 1000000L * cum / all))
    }.toMap
    val got = Pipeline23.qLorenz(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // Lorenz curve is convex-ish: cumulative share hits 1e6 at decile 10
    assert(got(10L)._3 == 1000000L)
  }

  test("dd_threshold_curve is monotone and recounts at tau=0.7") {
    val rows = Pipeline23.ddThresholdCurve(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet == Set(5000L, 6000L, 7000L, 8000L, 9000L))
    // monotone non-increasing in tau, docs <= 2*pairs
    val taus = rows.keys.toSeq.sorted
    taus.sliding(2).foreach { w =>
      if (w.length == 2) {
        assert(rows(w(0))._1 >= rows(w(1))._1)
        assert(rows(w(0))._2 >= rows(w(1))._2)
      }
    }
    rows.values.foreach { case (p, d) => assert(d <= 2 * p && d >= 2) }
    // recount one threshold directly from the E4 pair table
    val pairs = LlmQueries.ngramPairs(tables)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 10000)))
    val at7 = pairs.filter(_._3 >= 7000L)
    assert(rows(7000L)._1 == at7.length.toLong)
    assert(rows(7000L)._2 ==
      at7.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
  }
}
