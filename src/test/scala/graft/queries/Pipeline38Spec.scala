package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline38Spec extends SparkSpec {

  test("q_quantile_normalize equals a driver ntile replay") {
    val rows = tables.events.select(col("event_type"), col("event_id"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def ntile(xs: Seq[(Long, Double)], k: Int): Map[Int, Seq[Double]] = {
      val sorted = xs.sortBy { case (id, v) => (v, id) }
      val n = sorted.length
      val big = n % k
      val size = n / k
      sorted.zipWithIndex.groupBy { case (_, i) =>
        val cut = big * (size + 1)
        if (i < cut) i / (size + 1) + 1 else (i - cut) / size + big + 1
      }.map { case (b, ys) => b -> ys.map(_._1._2) }
    }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val globalMax = ntile(rows.map(r => (r._2, r._3)), 100)
      .map { case (b, vs) => b -> r4(vs.max) }
    val expected = rows.groupBy(_._1).flatMap { case (tp, rs) =>
      ntile(rs.map(r => (r._2, r._3)), 100).map { case (b, vs) =>
        (tp, b) -> ((vs.length.toLong, r4(vs.max), globalMax(b)))
      }
    }
    val got = Pipeline38.qQuantileNormalize(tables).collect()
      .map(r => (r.getString(0), r.getLong(1).toInt) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet.map { case (t, b) => (t, b) } == expected.keySet)
    got.foreach { case (k, v) => assert(v == expected(k), s"bucket $k") }
    // Normalized values are monotone in the percentile.
    val norm = got.toSeq.map { case ((_, b), (_, _, nv)) => (b, nv) }.distinct.sortBy(_._1)
    assert(norm == norm.sortBy(_._2).sortBy(_._1))
    norm.sliding(2).foreach {
      case Seq((_, a), (_, b)) => assert(a <= b)
      case _ =>
    }
  }

  test("geo_hexbin conserves points and matches a driver cube-round replay") {
    val pts = tables.events.select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("double"))
      .collect().filter(!_.isNullAt(2))
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    def hex(x: Double, y: Double): (Long, Long) = {
      val q = (math.sqrt(3.0) / 3.0 * x - 1.0 / 3.0 * y) / 5.0
      val r = (2.0 / 3.0 * y) / 5.0
      val (cx, cy, cz) = (q, -q - r, r)
      def rnd(v: Double) = BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (rx, ry, rz) = (rnd(cx), rnd(cy), rnd(cz))
      val (dx, dy, dz) = (math.abs(rx - cx), math.abs(ry - cy), math.abs(rz - cz))
      if (dx > dy && dx > dz) ((-ry - rz).toLong, rz.toLong)
      else if (dz >= dy) (rx.toLong, (-rx - ry).toLong)
      else (rx.toLong, rz.toLong)
    }
    val expected = pts.groupBy { case (t, x, y) =>
      val (hq, hr) = hex(x, y); (t, hq, hr)
    }.map { case (k, vs) => k -> vs.length.toLong }
    val got = Pipeline38.geoHexbin(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got.values.sum == pts.length.toLong, "points not conserved")
    assert(got == expected)
    // Every assigned cell is a valid axial cell (q + r + s == 0 holds
    // by construction of the fix-up branch); spot the neighbor
    // spread: >1 distinct cell at this sf.
    assert(got.keySet.size > 1)
  }
}
