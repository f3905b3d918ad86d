package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline22Spec extends SparkSpec {

  test("q_percent_rank rebuilds both statistics from sorted counts") {
    val nat = tables.customer.select(col("c_custkey"), col("c_nationkey"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val o = tables.orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), nat(r.getLong(1)), math.round(r.getDouble(2) * 100)))
    val expected = o.groupBy(_._2).flatMap { case (nk, xs) =>
      val vals = xs.map(_._3)
      val n = vals.length.toLong
      xs.toSeq.map { case (ok, _, c) =>
        val lt = vals.count(_ < c).toLong
        val le = vals.count(_ <= c).toLong
        val pr = if (n == 1) 0L else 1000000L * lt / (n - 1)
        (ok, nk) -> ((pr, 1000000L * le / n))
      }
    }.toMap
    val got = Pipeline22.qPercentRank(tables).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // cume_dist is never below percent_rank's implied mass and never 0
    assert(got.values.forall { case (pr, cd) =>
      cd > 0 && cd <= 1000000L && pr >= 0 && pr <= 1000000L })
  }

  test("q_cusum equals a sequential replay with the first-7-day baseline") {
    val ev = tables.events
      .select(col("event_type"), to_date(col("ts")).as("day")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val expected = ev.groupBy(_._1).flatMap { case (t, xs) =>
      val daily = xs.groupBy(_._2).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1.toEpochDay)
      if (daily.length <= 7) None
      else {
        val base = daily.take(7).map(_._2).sum
        var s = 0L
        var best = Long.MinValue
        var bestDay: java.time.LocalDate = null
        daily.drop(7).foreach { case (d, x) =>
          s += 7 * x - base
          if (s > best) { best = s; bestDay = d }
        }
        Some(t -> ((base, best, bestDay)))
      }
    }
    val got = Pipeline22.qCusum(tables).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDate(3).toLocalDate))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("mm_modality_balance conserves bytes and caps keep at 1") {
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mods = Seq("text", "image", "audio")
    val byMod = docs.groupBy(x => mods((x._1 % 3).toInt)).view
      .mapValues(xs => (xs.length.toLong,
        xs.map(_._2.getBytes("UTF-8").length.toLong).sum)).toMap
    val all = byMod.values.map(_._2).sum
    val targets = Map("text" -> 700000L, "image" -> 200000L, "audio" -> 100000L)
    val expected = byMod.map { case (m, (n, b)) =>
      val share = 1000000L * b / all
      m -> ((n, b, share, targets(m),
        math.min(1000000L, 1000000L * targets(m) / share)))
    }
    val got = Pipeline22.mmModalityBalance(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got == expected)
    // byte conservation and sane shares
    assert(got.values.map(_._2).sum == all)
    assert(math.abs(got.values.map(_._3).sum - 1000000L) <= 3)
  }
}
