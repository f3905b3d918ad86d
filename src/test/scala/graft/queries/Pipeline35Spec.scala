package graft.queries

import graft.SparkSpec
import graft.functions.HaversineDistKm
import graft.operators.Geo
import graft.plans.GeoRadiusPushdown
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline35Spec extends SparkSpec {

  test("HaversineDistKm is bit-identical to the composed Geo.haversineKm") {
    val pts = tables.events.select(
      get_json_object(col("props"), "$.k").cast("double").as("lat"),
      col("value").as("lon"))
    val native = GraftBridge.column(HaversineDistKm(
      GraftBridge.expression(col("lat")), GraftBridge.expression(col("lon")),
      Literal(40.0), Literal(60.0)))
    val composed = Geo.haversineKm(col("lon"), col("lat"), lit(60.0), lit(40.0))
    val diff = pts.select(native.as("a"), composed.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("geo_radius_search: rule-on equals rule-off, and the envelope reaches PushedFilters") {
    val df = Pipeline35.geoRadiusSearch(tables)
    val got = df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    // Twin WITHOUT the rule: drop it from the session, compute the
    // same query shape with the composed trig filter.
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      before.filterNot(_ == GeoRadiusPushdown)
    try {
      val p = tables.events.select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("double").as("lat"),
        col("value").as("lon"))
      val plain = p
        .filter(col("lat") >= -90.0 && col("lat") <= 90.0 &&
          col("lon") >= -180.0 && col("lon") <= 180.0)
        .withColumn("dist_km",
          Geo.haversineKm(col("lon"), col("lat"), lit(60.0), lit(40.0)))
        .filter(col("dist_km") < 2000.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_within"),
          expr("round(min(dist_km), 4)").as("nearest_km"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == plain, "optimizer rule changed the result")
    } finally {
      spark.experimental.extraOptimizations = before
    }

    // The envelope's raw-column (value) bound must reach the scan —
    // and be the rule's TIGHT window (positive lower bound), not
    // just the query's own ±180 validity gate.
    // formatted mode prints the scan's full PushedFilters list (the
    // plan tree's one-line rendering truncates it).
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:"), plan.take(500))
    val lower = "GreaterThanOrEqual\\(value,(-?\\d+\\.\\d+)".r
      .findAllMatchIn(plan).map(_.group(1).toDouble).toSeq
    val upper = "LessThanOrEqual\\(value,(-?\\d+\\.\\d+)".r
      .findAllMatchIn(plan).map(_.group(1).toDouble).toSeq
    assert(lower.exists(_ > 0.0) && upper.exists(_ < 180.0),
      s"tight envelope bound not pushed (lower=$lower upper=$upper):\n${plan.take(2000)}")
  }

  test("GeoRadiusPushdown envelope never excludes an in-radius point (corpus check)") {
    // Every GATED point the radius predicate keeps must satisfy the
    // derived envelope — the implication the rewrite rests on.
    val r = 2000.0
    val dLat = math.toDegrees(r / HaversineDistKm.EarthRadiusKm) * 1.0000001
    val phiMax = math.min(math.abs(40.0) + dLat, 90.0)
    val q = math.sin(r / (2.0 * HaversineDistKm.EarthRadiusKm)) /
      math.sqrt(math.cos(math.toRadians(phiMax)) * math.cos(math.toRadians(40.0)))
    val dLon = 2.0 * math.toDegrees(math.asin(q)) * 1.0000001
    val pts = tables.events.select(
      get_json_object(col("props"), "$.k").cast("double").as("lat"),
      col("value").as("lon"))
      .collect().map(rr => (rr.getDouble(0), rr.getDouble(1)))
      .filter { case (la, lo) => la >= -90 && la <= 90 && lo >= -180 && lo <= 180 }
    val inRadius = pts.filter { case (la, lo) =>
      HaversineDistKm.distKm(la, lo, 40.0, 60.0) < r
    }
    assert(inRadius.nonEmpty)
    inRadius.foreach { case (la, lo) =>
      assert(la >= 40.0 - dLat && la <= 40.0 + dLat, s"lat $la outside band")
      assert(lo >= 60.0 - dLon && lo <= 60.0 + dLon, s"lon $lo outside band")
    }
  }

  test("GeoRadiusPushdown stands down without a validity gate (wrap soundness)") {
    import spark.implicits._
    GeoRadiusPushdown.install(spark)
    // lon 420 is a wrap image 60° + 360° away: zero angular
    // difference from the center's meridian + 0 lat delta = distance
    // 0 — inside any radius, outside any naive window. An UNGATED
    // radius filter must keep it (the rule must add no bounds).
    val df = Seq((40.0, 420.0), (40.0, 60.0), (10.0, 60.0), (40.0, 175.0))
      .toDF("lat", "lon")
    val kept = df.filter(
      GraftBridge.column(HaversineDistKm(
        GraftBridge.expression(col("lat")), GraftBridge.expression(col("lon")),
        Literal(40.0), Literal(60.0))) < lit(2000.0))
    assert(kept.count() == 2L, "wrap image dropped: envelope emitted without a gate")
    // With the gate stated, the envelope appears and results are
    // still exact on gated data.
    val gated = df.filter(col("lat") >= -90.0 && col("lat") <= 90.0 &&
      col("lon") >= -180.0 && col("lon") <= 180.0)
      .filter(GraftBridge.column(HaversineDistKm(
        GraftBridge.expression(col("lat")), GraftBridge.expression(col("lon")),
        Literal(40.0), Literal(60.0))) < lit(2000.0))
    assert(gated.count() == 1L)
    val optimized = gated.queryExecution.optimizedPlan.toString
    assert(optimized.contains("lon#") && optimized.contains("lat#"))
  }

  test("q_fifo_allocation matches a sequential FIFO simulation") {
    val rows = tables.lineitem.select(col("l_partkey"), col("l_returnflag"),
        col("l_shipdate").cast("string").as("sd"), col("l_orderkey"),
        col("l_linenumber"), expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getInt(4), r.getLong(5)))
    val expected = mutable.Map.empty[Long, (Long, Long, Long, Long)]
    rows.groupBy(_._1).foreach { case (part, rs) =>
      def ordered(f: ((Long, String, String, Long, Int, Long)) => Boolean) =
        rs.filter(f).sortBy(r => (r._3, r._4, r._5)).map(_._6)
      val supply = ordered(_._2 == "R")
      val demand = ordered(_._2 != "R")
      if (supply.nonEmpty && demand.nonEmpty) {
        // True sequential FIFO: walk lots and demands in order,
        // consuming greedily; count (demand, lot) contact pairs.
        var si = 0
        var sRemain = supply.head
        var matched = 0L
        var nMatches = 0L
        demand.foreach { d =>
          var need = d
          var touched = false
          while (need > 0 && si < supply.length) {
            val take = math.min(need, sRemain)
            if (take > 0) { matched += take; nMatches += 1; touched = true }
            need -= take
            sRemain -= take
            if (sRemain == 0) { si += 1; sRemain = if (si < supply.length) supply(si) else 0 }
          }
          val _ = touched
        }
        expected(part) = ((nMatches, matched, demand.sum, supply.sum))
      }
    }
    val got = Pipeline35.qFifoAllocation(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (part, (nm, mq, dq, sq, fill)) =>
      val (enm, emq, edq, esq) = expected(part)
      assert(nm == enm, s"part $part n_matches")
      assert(mq == emq, s"part $part matched_qty")
      assert(dq == edq && sq == esq, s"part $part totals")
      assert(fill == mq * 1000000L / dq)
      assert(mq == math.min(dq, sq), s"FIFO matches min(demand, supply) for $part")
    }
  }

  test("q_decile_lift is a valid gains table") {
    val rows = Pipeline35.qDecileLift(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 10L))
    // Lift at decile 10 is exactly 1 (cumulative rate == base rate).
    assert(rows.last._4 == 1.0)
    // Customer counts split near-evenly (ntile semantics).
    val ns = rows.map(_._2)
    assert(ns.max - ns.min <= 1)
    // Replay: per-customer spend/label, decile by rank.
    val pc = tables.orders.groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sorted = pc.sortBy(r => (-r._2, r._1))
    val n = sorted.length
    val deciles = sorted.zipWithIndex.map { case (r, i) =>
      // ntile: first (n mod k) buckets get ceil(n/k).
      val k = 10
      val big = n % k
      val size = n / k
      val cut = big * (size + 1)
      val d = if (i < cut) i / (size + 1) + 1 else (i - cut) / size + big + 1
      (d.toLong, r._3)
    }
    val expPos = deciles.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
    rows.foreach { case (d, _, pos, _) => assert(pos == expPos(d), s"decile $d") }
  }
}
