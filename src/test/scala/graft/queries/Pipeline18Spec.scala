package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline18Spec extends SparkSpec {

  test("q_rfm quartiles recomputed from the SQL-standard ntile closed form") {
    val orders = tables.orders
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val refDay = orders.map(_._2).max
    val base = orders.groupBy(_._1).map { case (ck, xs) =>
      val recency = java.time.temporal.ChronoUnit.DAYS.between(
        xs.map(_._2).max, refDay)
      (ck, recency, xs.length.toLong, xs.map(_._3).sum)
    }.toSeq

    def ntile(sorted: Seq[Long], k: Int): Map[Long, Long] = {
      val n = sorted.length.toLong
      val q = n / k
      val r = n % k
      val cut = r * (q + 1)
      sorted.zipWithIndex.map { case (ck, i) =>
        val b = if (i < cut) i / (q + 1) + 1
                else (i - cut) / math.max(q, 1L) + r + 1
        ck -> b
      }.toMap
    }
    val rT = ntile(base.sortBy(x => (x._2, x._1)).map(_._1), 4)
    val fT = ntile(base.sortBy(x => (-x._3, x._1)).map(_._1), 4)
    val mT = ntile(base.sortBy(x => (-x._4, x._1)).map(_._1), 4)

    val got = Pipeline18.qRfm(tables).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got.size == base.size)
    base.foreach { case (ck, rec, freq, cents) =>
      val (gRec, gFreq, gCents, gr, gf, gm) = got(ck)
      assert((gRec, gFreq, gCents) == ((rec, freq, cents)), s"base mismatch $ck")
      assert((gr, gf, gm) == ((rT(ck), fT(ck), mT(ck))), s"tile mismatch $ck")
    }
    // quartiles are balanced: bucket sizes differ by at most 1
    val sizes = got.values.groupBy(_._4).values.map(_.size)
    assert(sizes.max - sizes.min <= 1)
  }

  test("q_autocorr matches closed-form Pearson on the lagged daily series") {
    val ev = tables.events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val byType = ev.groupBy(_._1)
    val expected = byType.flatMap { case (tpe, xs) =>
      val daily = xs.groupBy(_._2).view.mapValues(_.length.toDouble)
        .toSeq.sortBy(_._1.toEpochDay)
      val pairs = daily.map(_._2).sliding(2).filter(_.length == 2)
        .map(p => (p(1), p(0))).toSeq // (cnt, prev)
      if (pairs.isEmpty) None
      else {
        val n = pairs.length.toDouble
        val mx = pairs.map(_._1).sum / n
        val my = pairs.map(_._2).sum / n
        val cov = pairs.map(p => (p._1 - mx) * (p._2 - my)).sum
        val vx = pairs.map(p => (p._1 - mx) * (p._1 - mx)).sum
        val vy = pairs.map(p => (p._2 - my) * (p._2 - my)).sum
        val corr = if (vx == 0 || vy == 0 || n < 2) None
                   else Some(cov / math.sqrt(vx * vy))
        Some(tpe -> ((corr, pairs.length.toLong)))
      }
    }
    val got = Pipeline18.qAutocorr(tables).collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (tpe, (corr, n)) =>
      assert(got(tpe)._2 == n, s"n_pairs mismatch $tpe")
      (corr, got(tpe)._1) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-3, s"corr $tpe")
        case (None, None)       =>
        case other              => fail(s"corr null mismatch $tpe: $other")
      }
    }
    // autocorrelation is a correlation: bounded
    assert(got.values.flatMap(_._1).forall(v => v >= -1.0001 && v <= 1.0001))
  }

  test("q_streaks equals brute-force consecutive-run scan per user") {
    val days = tables.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .distinct
    val expected = days.groupBy(_._1).map { case (u, xs) =>
      val ds = xs.map(_._2.toEpochDay).sorted
      var best = 1L; var cur = 1L
      ds.sliding(2).foreach { w =>
        if (w.length == 2) {
          if (w(1) == w(0) + 1) { cur += 1; best = math.max(best, cur) }
          else cur = 1
        }
      }
      u -> ((best, ds.length.toLong))
    }
    val got = Pipeline18.qStreaks(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // sanity: a streak never exceeds the active-day count
    assert(got.values.forall { case (mx, n) => mx <= n && mx >= 1 })
  }

  test("q_ohlc bars match brute-force argmin/argmax with (ts, id) tiebreak") {
    val ev = tables.events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    def r4(d: Double) =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = ev.groupBy(e => (e._1, e._2.toLocalDateTime.toLocalDate))
      .map { case (k, xs) =>
        val sorted = xs.sortBy(e => (e._2.getTime, e._3))
        k -> ((r4(sorted.head._4), r4(xs.map(_._4).max),
          r4(xs.map(_._4).min), r4(sorted.last._4), xs.length.toLong))
      }
    val got = Pipeline18.qOhlc(tables).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(6)))).toMap
    assert(got == expected)
    // bar invariant: low <= open, close <= high
    got.values.foreach { case (o, h, l, c, _) =>
      assert(l <= o + 1e-9 && o <= h + 1e-9 && l <= c + 1e-9 && c <= h + 1e-9)
    }
  }

  test("tx_jsd_drift contributions recomputed from scratch; total JSD bounded") {
    val toks = tables.documents
      .select(col("source"), col("text"))
      .collect().flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(tk => (r.getString(0), math.min(tk.length, 20))))
    val perSrc = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val gbins = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nSrc = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nAll = toks.length.toLong
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val expected = (for {
      s <- nSrc.keys; b <- gbins.keys
    } yield {
      val cSrc = perSrc.getOrElse((s, b), 0L)
      val p = cSrc.toDouble / nSrc(s)
      val q = gbins(b).toDouble / nAll
      val m = (p + q) / 2
      val contrib = (if (cSrc == 0L) 0.0 else p * log2(p / m)) * 0.5 +
        q * log2(q / m) * 0.5
      (s, b) -> ((cSrc, gbins(b),
        BigDecimal(contrib).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }).toMap
    val got = Pipeline18.txJsdDrift(tables).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (c, all, contrib)) =>
      assert(got(k)._1 == c && got(k)._2 == all, s"counts $k")
      assert(math.abs(got(k)._3 - contrib) < 2e-6, s"contrib $k")
    }
    // per-source JSD = sum of contributions: bounded by [0, 1] bits
    val bySrc = got.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2._3).sum)
    assert(bySrc.values.forall(v => v >= -1e-6 && v <= 1.0 + 1e-6))
  }
}
