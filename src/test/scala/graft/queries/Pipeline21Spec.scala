package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline21Spec extends SparkSpec {

  test("q_rolling_corr equals exact-moment replay of the 7-day window") {
    val ev = tables.events
      .select(col("event_type"), to_date(col("ts")).as("day")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay))
    val days = ev.map(_._2).distinct.sorted
    val types = ev.map(_._1).distinct
    val cnt = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val totByDay = days.map(d => d -> types.map(t => cnt.getOrElse((t, d), 0L)).sum).toMap
    val expected = scala.collection.mutable.Map.empty[(String, Long), Option[Double]]
    types.foreach { t =>
      for (i <- 6 until days.length) {
        val win = days.slice(i - 6, i + 1)
        val xs = win.map(d => cnt.getOrElse((t, d), 0L))
        val ys = win.map(totByDay)
        val sx = xs.sum; val sy = ys.sum
        val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
        val sxx = xs.map(a => a * a).sum
        val syy = ys.map(a => a * a).sum
        val dx = 7.0 * sxx - sx.toDouble * sx
        val dy = 7.0 * syy - sy.toDouble * sy
        val v =
          if (dx > 0 && dy > 0)
            Some(BigDecimal(((7.0 * sxy - sx.toDouble * sy) / math.sqrt(dx * dy)))
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
          else None
        expected((t, days(i))) = v
      }
    }
    val got = Pipeline21.qRollingCorr(tables).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, v) =>
      (v, expected(k)) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"$k: $a vs $b")
        case (a, b)             => assert(a == b, s"$k: $a vs $b")
      }
    }
    // a correlation is bounded
    assert(got.values.flatten.forall(v => v >= -1.0001 && v <= 1.0001))
  }

  test("q_welch_ttest equals the closed form from exact moments") {
    val seg = tables.customer.select(col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val o = tables.orders.select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (seg(r.getLong(0)), math.round(r.getDouble(1) * 100)))
      .filter(x => x._1 == "BUILDING" || x._1 == "MACHINERY")
    val g1 = o.filter(_._1 == "BUILDING").map(_._2)
    val g2 = o.filter(_._1 == "MACHINERY").map(_._2)
    def mom(xs: Seq[Long]) = {
      val n = xs.length
      val s = xs.sum
      val q = xs.map(x => BigInt(x) * x).sum
      val v = ((q.toDouble - (s.toDouble / n) * s) / (n - 1)) / n
      (n, s, v)
    }
    val (n1, _, v1) = mom(g1.toSeq)
    val (n2, _, v2) = mom(g2.toSeq)
    val tExp = (g1.sum.toDouble / n1 - g2.sum.toDouble / n2) / math.sqrt(v1 + v2)
    val dfExp = math.pow(v1 + v2, 2) /
      (math.pow(v1, 2) / (n1 - 1) + math.pow(v2, 2) / (n2 - 1))
    val row = Pipeline21.qWelchTtest(tables).collect().head
    assert(row.getLong(0) == n1.toLong && row.getLong(1) == n2.toLong)
    assert(math.abs(row.getDouble(2) - tExp) < 1e-3)
    assert(math.abs(row.getDouble(3) - dfExp) < 1e-2)
    // df is bounded by min(n1,n2)-1 .. n1+n2-2
    assert(row.getDouble(3) >= math.min(n1, n2) - 1 &&
      row.getDouble(3) <= n1 + n2 - 2)
  }

  test("geo_point_along equals a driver replay of the quantized walk") {
    val pts = tables.events.select(
      col("user_id"), col("ts"), col("event_id"),
      (col("value") % 180.0).as("lon"),
      expr("CAST(get_json_object(props, '$.k') AS DOUBLE) % 90.0").as("lat"))
      .collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime, r.getLong(2)),
        r.getDouble(3), r.getDouble(4)))
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val dphi = math.toRadians(lat2 - lat1)
      val dlam = math.toRadians(lon2 - lon1)
      val a = math.pow(math.sin(dphi / 2), 2) +
        math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
          math.pow(math.sin(dlam / 2), 2)
      2.0 * 6371.0 * math.asin(math.sqrt(a))
    }
    val expected = pts.groupBy(_._1).flatMap { case (u, xs) =>
      val ordered = xs.sortBy(_._2)
      if (ordered.length < 2) None
      else {
        val segs = ordered.sliding(2).map { w =>
          val Array(p0, p1) = w.toArray
          (p0._3, p0._4, p1._3, p1._4,
            math.round(hav(p0._4, p0._3, p1._4, p1._3) * 10000))
        }.toSeq
        val tot = segs.map(_._5).sum
        var cum = 0L
        val hit = segs.find { s => cum += s._5; 2 * cum >= tot }.get
        val prevCum = cum - hit._5
        val f = if (hit._5 > 0) (tot.toDouble - 2.0 * prevCum) / (2.0 * hit._5) else 0.0
        Some(u -> ((
          BigDecimal(hit._1 + f * (hit._3 - hit._1))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(hit._2 + f * (hit._4 - hit._2))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      }
    }
    val got = Pipeline21.geoPointAlong(tables).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (u, (lo, la)) =>
      val (elo, ela) = expected(u)
      assert(math.abs(lo - elo) < 2e-4 && math.abs(la - ela) < 2e-4,
        s"user $u: ($lo,$la) vs ($elo,$ela)")
    }
    // the midpoint lies inside the trajectory's bbox
    pts.groupBy(_._1).foreach { case (u, xs) =>
      got.get(u).foreach { case (lo, la) =>
        assert(lo >= xs.map(_._3).min - 1e-3 && lo <= xs.map(_._3).max + 1e-3)
        assert(la >= xs.map(_._4).min - 1e-3 && la <= xs.map(_._4).max + 1e-3)
      }
    }
  }

  test("src_malformed_jsonl quarantines exactly the id%7 rows") {
    val ev = tables.events
      .select(col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val survivors = ev.filter(_._1 % 7 != 0)
    val expected = survivors.groupBy(_._2).map { case (t, xs) =>
      t -> ((xs.length.toLong,
        BigDecimal(xs.map(_._3).sum)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    } + ("_corrupt" -> ((ev.count(_._1 % 7 == 0).toLong, 0.0)))
    val got = Pipeline21.srcMalformedJsonl(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (t, (n, s)) =>
      assert(n == expected(t)._1, s"$t count")
      assert(math.abs(s - expected(t)._2) < 1e-3, s"$t sum: $s vs ${expected(t)._2}")
    }
    assert(got("_corrupt")._1 > 0)
  }
}
