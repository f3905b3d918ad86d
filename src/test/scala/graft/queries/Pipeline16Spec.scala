package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline16Spec extends SparkSpec {

  test("q_weighted_median recomputed from scratch") {
    val rows = tables.lineitem
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).map { case (flag, xs) =>
      val byPrice = xs.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tot = byPrice.map(_._2).sum
      var cw = 0L
      val med = byPrice.find { case (_, w) => cw += w; cw * 2 >= tot }.get._1
      flag -> ((med, tot))
    }
    val got = Pipeline16.qWeightedMedian(tables).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("q_weighted_median matches the naive definition (smallest v with cumw >= half)") {
    // Independent formulation: for each flag, the weighted median is
    // the smallest price p such that the weight at or below p is at
    // least half the total weight.
    val rows = tables.lineitem
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val got = Pipeline16.qWeightedMedian(tables).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (flag, xs) =>
      val tot = xs.map(_._3).sum
      val m = got(flag)
      val atOrBelow = xs.filter(_._2 <= m).map(_._3).sum
      val strictlyBelow = xs.filter(_._2 < m).map(_._3).sum
      assert(atOrBelow * 2 >= tot, s"$flag: median too small")
      assert(strictlyBelow * 2 < tot, s"$flag: median not minimal")
    }
  }

  test("q_skyline equals the quadratic strict-dominance definition") {
    val rows = tables.orders
      .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").cast("long"),
        col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = rows.filter { case (_, d, p) =>
      !rows.exists { case (_, d2, p2) =>
        d2 >= d && p2 >= p && (d2 > d || p2 > p)
      }
    }.map(_._1).toSet
    val got = Pipeline16.qSkyline(tables).collect()
      .map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // non-degenerate: the frontier is a strict subset
    assert(got.size < rows.length)
  }

  test("q_skyline frontier is an antichain with monotone price along date") {
    val got = Pipeline16.qSkyline(tables)
      .select(col("o_orderdate").cast("timestamp").cast("long"), col("totalprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1)
    got.sliding(2).foreach {
      case Array((d1, p1), (d2, p2)) if d1 < d2 =>
        assert(p1 > p2, "earlier frontier point must be strictly more expensive")
      case _ => ()
    }
  }

  test("q_regression slope/intercept/r2 match closed-form moments") {
    val pts = tables.events
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("double"))
      .collect()
      .filter(r => !r.isNullAt(2))
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val got = Pipeline16.qRegression(tables).collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    pts.groupBy(_._1).foreach { case (et, xs) =>
      val n = xs.length.toDouble
      val mx = xs.map(_._3).sum / n
      val my = xs.map(_._2).sum / n
      val sxx = xs.map(p => (p._3 - mx) * (p._3 - mx)).sum
      val sxy = xs.map(p => (p._3 - mx) * (p._2 - my)).sum
      val syy = xs.map(p => (p._2 - my) * (p._2 - my)).sum
      val slope = sxy / sxx
      val (gs, gi, gr2, gn) = got(et)
      assert(math.abs(gs - slope) < 1e-3, s"$et slope")
      assert(math.abs(gi - (my - slope * mx)) < 1e-3, s"$et intercept")
      assert(math.abs(gr2 - sxy * sxy / (sxx * syy)) < 1e-3, s"$et r2")
      assert(gn == xs.length.toLong, s"$et n_fit")
    }
  }

  test("q_benford digits cover observed leading digits and shares sum to ~1") {
    val got = Pipeline16.qBenford(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val totalN = tables.orders.count()
    assert(got.map(_._2).sum == totalN)
    assert(math.abs(got.map(_._3).sum - 1.0) < 0.01)
    // Benford expectations: digit 1 most likely, decreasing
    val exp = got.sortBy(_._1).map(_._4)
    assert(exp.zip(exp.drop(1)).forall { case (a, b) => a > b })
    // every digit present is in 1..9 (cents of positive prices)
    assert(got.forall(d => d._1 >= "1" && d._1 <= "9"))
  }

  test("geo_bearing recomputed from scratch on one user") {
    val rows = tables.events
      .select(col("user_id"), col("ts").cast("long"), col("event_id"),
        col("value"), get_json_object(col("props"), "$.k").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
    val uid = rows.groupBy(_._1).filter(_._2.size >= 3).keys.head
    val traj = rows.filter(_._1 == uid).sortBy(e => (e._2, e._3))
    val expected = traj.zip(traj.drop(1)).map { case (a, b) =>
      val (lon1, lat1) = (a._4 % 180.0, a._5 % 90.0)
      val (lon2, lat2) = (b._4 % 180.0, b._5 % 90.0)
      val dlam = math.toRadians(lon2 - lon1)
      val y = math.sin(dlam) * math.cos(math.toRadians(lat2))
      val x = math.cos(math.toRadians(lat1)) * math.sin(math.toRadians(lat2)) -
        math.sin(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.cos(dlam)
      b._3 -> BigDecimal((math.toDegrees(math.atan2(y, x)) + 360.0) % 360.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = Pipeline16.geoBearing(tables)
      .filter(col("user_id") === uid).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (eid, b) =>
      assert(math.abs(got(eid) - b) < 1e-9, s"event $eid")
    }
    // range invariant over ALL users
    val all = Pipeline16.geoBearing(tables).select(col("bearing_deg")).collect()
    assert(all.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(0) < 360.0))
  }
}
