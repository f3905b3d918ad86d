package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline24Spec extends SparkSpec {

  test("q_funnel_windowed equals a per-user sequential replay") {
    val ev = tables.events
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val hour = 3600000000L
    val byUser = ev.groupBy(_._1)
    var nS = 0L; var nC = 0L; var nP = 0L
    byUser.foreach { case (_, xs) =>
      val signups = xs.filter(_._2 == "signup").map(_._3)
      if (signups.nonEmpty) {
        nS += 1
        val s = signups.min
        val clicks = xs.filter(x => x._2 == "click" && x._3 > s && x._3 <= s + hour)
        if (clicks.nonEmpty) {
          nC += 1
          val c = clicks.map(_._3).min
          if (xs.exists(x => x._2 == "purchase" && x._3 > c && x._3 <= s + hour))
            nP += 1
        }
      }
    }
    val row = Pipeline24.qFunnelWindowed(tables).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((nS, nC, nP)))
    assert(row.getLong(3) == 1000000L * nP / nS)
    // funnel is monotone
    assert(nS >= nC && nC >= nP)
  }

  test("q_prefix_rollup conserves mass at every level") {
    val got = Pipeline24.qPrefixRollup(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byLevel = got.groupBy(_._1)
    assert(byLevel.keySet == Set(0L, 1L, 2L, 3L))
    // every level partitions the same customer/order/cents mass
    val masses = byLevel.view.mapValues(xs =>
      (xs.map(_._3).sum, xs.map(_._4).sum, xs.map(_._5).sum)).toMap
    assert(masses.values.toSet.size == 1)
    // level-0 nodes are customers (1 each); coarser levels only merge
    assert(byLevel(0L).forall(_._3 == 1L))
    assert(byLevel(0L).size >= byLevel(1L).size)
    assert(byLevel(1L).size >= byLevel(2L).size)
    // parent cents = sum of its children's cents at one level down
    val l1 = byLevel(1L).map(x => x._2 -> x._5).toMap
    val childSum = byLevel(0L).groupBy(_._2 / 10).view.mapValues(_.map(_._5).sum)
    childSum.foreach { case (p, s) => assert(l1(p) == s) }
  }

  test("sim_mmr equals a driver-side greedy replay and diversifies") {
    val emb = tables.embeddings.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (0L until 5L).flatMap { qid =>
      val qv = emb(qid)
      val cands = emb.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(v, qv), v) }
        .sortBy { case (id, rel, _) => (-rel, id) }.take(8)
      var selected = List.empty[(Long, Double)]
      var rest = cands
      for (step <- 1 to 3) {
        val scored = rest.map { case (id, rel, v) =>
          val sc =
            if (selected.isEmpty) rel
            else {
              val ms = selected.map(s => cos(v, emb(s._1))).max
              BigDecimal(0.7 * rel - 0.3 * ms)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            }
          (id, sc)
        }
        val pick = scored.minBy { case (id, sc) => (-sc, id) }
        selected = selected :+ pick
        rest = rest.filter(_._1 != pick._1)
      }
      selected.zipWithIndex.map { case ((id, sc), i) =>
        (qid, i + 1L) -> ((id, sc))
      }
    }.toMap
    val got = Pipeline24.simMmr(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (id, sc)) =>
      assert(id == expected(k)._1, s"$k: picked $id vs ${expected(k)._1}")
      assert(math.abs(sc - expected(k)._2) < 1e-9, s"$k score")
    }
    // later picks never beat the pure-relevance first pick
    (0L until 5L).foreach { qid =>
      assert(got((qid, 1L))._2 >= got((qid, 2L))._2 - 1e-9)
    }
  }
}
