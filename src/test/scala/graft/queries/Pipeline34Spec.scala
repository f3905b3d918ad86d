package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline34Spec extends SparkSpec {

  test("q_anova equals an exact-moment driver replay") {
    val rows = tables.orders
      .select(col("o_orderpriority"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val groups = rows.groupBy(_._1).map { case (p, rs) =>
      val cs = rs.map(_._2)
      p -> ((cs.length.toLong, cs.map(BigInt(_)).sum, cs.map(c => BigInt(c) * c).sum))
    }
    assert(groups.size == 5)
    // Same fixed priority order as the query's parse tree.
    val order = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ms = order.map(groups)
    val n = ms.map(_._1).sum
    val s = ms.map(_._2).sum
    val ssbTerms = ms.map { case (ni, si, _) => si.toDouble / ni * si.toDouble }.sum
    val grand = s.toDouble / n * s.toDouble
    val qTot = ms.map(_._3.toDouble).sum
    val ssb = ssbTerms - grand
    val ssw = qTot - ssbTerms
    val f = (ssb / 4) / (ssw / (n - 5))
    val eta = ssb / (qTot - grand)
    val got = Pipeline34.qAnova(tables).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == n)
    assert(math.abs(got(0).getDouble(1) - f) < 1e-3, s"f ${got(0).getDouble(1)} vs $f")
    assert(math.abs(got(0).getDouble(2) - eta) < 1e-4)
    assert(got(0).getDouble(2) > 0.0 && got(0).getDouble(2) < 1.0)
  }

  private def eventKeys(): Array[(Long, Long, Long, String, Long)] =
    tables.events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))

  test("q_seq_pairs equals a first-before-last driver replay") {
    val ev = eventKeys()
    val users = ev.map(_._1).distinct
    val support = mutable.Map.empty[(String, String), Long]
    users.foreach { u =>
      val mine = ev.filter(_._1 == u)
      val byType = mine.groupBy(_._4).map { case (tp, rs) =>
        val keys = rs.map(r => (r._2, r._3))
        tp -> ((keys.min, keys.max))
      }
      for ((a, (fa, _)) <- byType; (b, (_, lb)) <- byType)
        if (implicitly[Ordering[(Long, Long)]].lt(fa, lb))
          support((a, b)) = support.getOrElse((a, b), 0L) + 1L
    }
    val got = Pipeline34.qSeqPairs(tables).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == support.keySet)
    got.foreach { case (k, (su, ppm)) =>
      assert(su == support(k), s"pair $k")
      assert(ppm == su * 1000000L / users.length)
      assert(ppm <= 1000000L)
    }
  }

  test("q_theil_sen equals a pairwise-median driver replay") {
    val ev = eventKeys()
    val expected = ev.groupBy(_._4).map { case (tp, rs) =>
      val daily = rs.groupBy(r => r._2 / 86400000000L)
        .map { case (d, xs) => (d, xs.length.toLong) }.toSeq.sortBy(_._1)
      val slopes = (for {
        i <- daily.indices; j <- (i + 1) until daily.length
      } yield (daily(j)._2 - daily(i)._2).toDouble / (daily(j)._1 - daily(i)._1))
        .sorted
      val med = slopes((slopes.length + 1) / 2 - 1)
      tp -> ((daily.length.toLong, slopes.length.toLong,
        BigDecimal(med).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val got = Pipeline34.qTheilSen(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
  }

  private val thresholds =
    Seq(385749L, 771499L, 964373L, 1028665L, 1044738L, 1047952L, 1048488L, 1048565L)

  test("q_bootstrap_ci equals a deterministic-weight driver replay") {
    val ev = eventKeys()
    val expected = ev.groupBy(_._4).map { case (tp, rs) =>
      val means = (0 until 32).map { r =>
        var num = 0L; var den = 0L
        rs.foreach { e =>
          val u = (((e._3 % 1000000007L) * 1048573L + r) % 1000000007L *
            2654435761L + 1013904223L) % 1000000007L % 1048576L
          val w = thresholds.count(_ <= u)
          num += w * e._5; den += w
        }
        (num.toDouble / den / 1000000.0, r)
      }.sorted
      tp -> ((means(1)._1, means(15)._1, means(30)._1))
    }
    val got = Pipeline34.qBootstrapCi(tables).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (tp, (lo, med, hi)) =>
      val (elo, emed, ehi) = expected(tp)
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(lo == r4(elo) && med == r4(emed) && hi == r4(ehi), s"type $tp")
      assert(lo <= med && med <= hi, s"band ordering for $tp")
    }
  }

  test("bootstrap replicate weights are Poisson(1)-shaped (mean ~ 1)") {
    // The mixed uniforms should clear on average ~1 threshold: the
    // resample keeps the corpus size in expectation.
    val ev = eventKeys()
    val ws = for (e <- ev; r <- 0 until 32) yield {
      val u = (((e._3 % 1000000007L) * 1048573L + r) % 1000000007L *
        2654435761L + 1013904223L) % 1000000007L % 1048576L
      thresholds.count(_ <= u)
    }
    val mean = ws.sum.toDouble / ws.length
    assert(math.abs(mean - 1.0) < 0.02, s"weight mean $mean")
  }
}
