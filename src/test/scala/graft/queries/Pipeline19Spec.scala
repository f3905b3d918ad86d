package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline19Spec extends SparkSpec {

  test("q_ks_test matches a from-scratch ECDF sup per type") {
    val ev = tables.events.select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 10000)))
    val n = ev.length.toLong
    val grid = ev.map(_._2).distinct.sorted
    val all = ev.map(_._2)
    val expected = ev.groupBy(_._1).map { case (tpe, xs) =>
      val nt = xs.length.toLong
      val vs = xs.map(_._2)
      val dmax = grid.map { v =>
        val ct = vs.count(_ <= v).toLong
        val ca = all.count(_ <= v).toLong
        (BigInt(ct) * n - BigInt(ca) * nt).abs
      }.max
      tpe -> ((nt, (BigInt(1000000) * dmax / (BigInt(nt) * n)).toLong))
    }
    val got = Pipeline19.qKsTest(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // a KS distance is a probability-scale sup
    assert(got.values.forall { case (_, ks) => ks >= 0 && ks <= 1000000 })
  }

  test("q_mann_whitney equals brute-force tie-averaged rank U") {
    val seg = tables.customer.select(col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val o = tables.orders.select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (seg(r.getLong(0)), math.round(r.getDouble(1) * 100)))
      .filter(x => x._1 == "BUILDING" || x._1 == "MACHINERY")
    val sorted = o.map(_._2).sorted
    // tie-averaged rank ×2 = min + max of the tied 1-based positions
    val rank2 = sorted.zipWithIndex.groupBy(_._1).map { case (v, xs) =>
      val idxs = xs.map(_._2 + 1)
      v -> (idxs.min + idxs.max).toLong
    }
    val n1 = o.count(_._1 == "BUILDING").toLong
    val n2 = o.length - n1
    val r1x2 = o.filter(_._1 == "BUILDING").map(x => BigInt(rank2(x._2))).sum
    val u1 = r1x2 - BigInt(n1) * (n1 + 1)
    val u2 = BigInt(2) * n1 * n2 - u1
    val row = Pipeline19.qMannWhitney(tables).collect().head
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    assert(BigInt(row.getLong(2)) == u1 && BigInt(row.getLong(3)) == u2)
    assert(u1 + u2 == BigInt(2) * n1 * n2)
  }

  test("q_hhi equals per-nation share-square recomputation, bounded") {
    val nat = tables.customer.select(col("c_custkey"), col("c_nationkey"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val spend = tables.orders.select(col("o_custkey"), col("o_totalprice"))
      .collect()
      .map(r => ((nat(r.getLong(0)), r.getLong(0)), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).view.mapValues(_.map(x => BigInt(x._2)).sum).toMap
    val expected = spend.groupBy(_._1._1).map { case (nk, m) =>
      val cs = m.values.toSeq
      val s1 = cs.sum
      val s2 = cs.map(x => x * x).sum
      nk -> ((m.size.toLong, (BigInt(1000000) * s2 / (s1 * s1)).toLong))
    }
    val got = Pipeline19.qHhi(tables).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // equal shares floor 1e6/n ≤ HHI ≤ 1e6 (single customer)
    assert(got.values.forall { case (nc, h) =>
      h >= 1000000L / nc - 1 && h <= 1000000L })
  }

  test("q_kaplan_meier hazard table equals a brute-force risk-set scan") {
    val ev = tables.events
      .select(col("user_id"), to_date(col("ts")).as("day")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
    val spans = ev.groupBy(_._1).map { case (u, xs) =>
      (u, xs.map(_._2).min, xs.map(_._2).max) }.toSeq
    val maxDay = spans.map(_._3).max
    val days = spans.flatMap(s => Seq(s._2, s._3, s._3 + 1)).distinct.sorted
    val expected = days.map { d =>
      val nRisk = spans.count(s => s._2 <= d && d <= s._3).toLong
      val nEv = spans.count(s => s._3 == d && d < maxDay).toLong
      (d, nRisk, nEv)
    }.filter(_._2 > 0).map { case (d, nr, ne) =>
      java.time.LocalDate.ofEpochDay(d) -> ((nr, ne, 1000000L * ne / nr))
    }.toMap
    val got = Pipeline19.qKaplanMeier(tables).collect()
      .map(r => r.getDate(0).toLocalDate ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // every uncensored user dies exactly once
    assert(got.values.map(_._2).sum <= spans.size)
    assert(got.values.map(_._2).sum ==
      spans.count(_._3 < maxDay).toLong)
  }

  test("tx_winnowing equals a brute-force winnow per doc") {
    val P = 1000000007L
    def rh(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 31 + cp) % P
        i += Character.charCount(cp)
      }
      h
    }
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      if (t.length < 3) None
      else {
        val hs = (0 to t.length - 3).map(i => rh(s"${t(i)} ${t(i + 1)} ${t(i + 2)}"))
        val keys = hs.zipWithIndex.map { case (h, p) =>
          h * 2097152L + (2097151L - p) }
        val sels = (3 until keys.length)
          .map(p => keys.slice(p - 3, p + 1).min).distinct
        if (sels.isEmpty) None
        else Some(id -> ((sels.size.toLong,
          sels.map(_ / 2097152L).min, sels.map(_ / 2097152L).max)))
      }
    }.toMap
    val got = Pipeline19.txWinnowing(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    assert(expected.nonEmpty)
    // the registered native single-pass form ≡ the composed
    // posexplode + window + distinct formulation
    val composed = Pipeline19.txWinnowingComposed(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(composed == got)
    // map-only plan: the native form pays zero exchanges
    assert(graft.PlanCheck.exchangeCounts(
      Pipeline19.txWinnowing(tables)) == ((0, 0)))
    // winnowing density: selected ≤ full windows, ≥ grams/w
    docs.foreach { case (id, text) =>
      val nTok = text.split(" ", -1).length
      got.get(id).foreach { case (nfp, _, _) =>
        val nWin = nTok - 5 // full windows = grams - (w-1)
        assert(nfp <= nWin && nfp >= (nWin + 3) / 4)
      }
    }
  }
}
