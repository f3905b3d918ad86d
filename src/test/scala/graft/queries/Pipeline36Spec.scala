package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline36Spec extends SparkSpec {

  /** Independent driver replay of the deterministic k-means
    * (lowest-id seeds, 2 iterations, 4-dp rounding, first-index tie
    * break) plus the silhouette fold.
    */
  test("sim_silhouette equals an independent k-means + silhouette replay") {
    val vecs = tables.embeddings
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cents = vecs.take(4).map(_._2)
    // iters = 2: one recompute round.
    for (_ <- 1 until 2) {
      val assign = vecs.map { case (_, v) =>
        val ss = cents.map(c => r4(cos(v, c)))
        (ss.indexOf(ss.max), v)
      }
      cents = (0 until 4).map { ci =>
        val mine = assign.filter(_._1 == ci).map(_._2)
        val dim = mine.head.length
        Array.tabulate(dim)(d => r4(mine.map(_(d)).sum / mine.length))
      }.toArray
    }
    val expected = mutable.Map.empty[Long, (Long, Long)] // cluster -> (n, sumSfx)
    vecs.foreach { case (_, v) =>
      val ss = cents.map(c => r4(cos(v, c)))
      val best = ss.indexOf(ss.max)
      val sorted = ss.sorted(Ordering[Double].reverse)
      val (s1, s2) = (sorted(0), sorted(1))
      val sfx = if (1.0 - s2 == 0.0) 0L
        else math.round((s1 - s2) / (1.0 - s2) * 1000000.0)
      val (n, s) = expected.getOrElse(best + 1L, (0L, 0L))
      expected(best + 1L) = ((n + 1L, s + sfx))
    }
    val got = Pipeline36.simSilhouette(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (c, (n, ppm)) =>
      val (en, esum) = expected(c)
      assert(n == en, s"cluster $c size")
      assert(ppm == esum / en, s"cluster $c mean silhouette")
      assert(ppm >= 0L && ppm <= 1000000L)
    }
  }

  /** Exact ppm replay of the removal chains over collected events. */
  test("q_markov_removal equals a removal-chain driver replay") {
    val ev = tables.events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val cnt = mutable.Map.empty[(String, String), Long]
    val startCnt = mutable.Map.empty[String, Long]
    ev.groupBy(_._1).valuesIterator.foreach { rows =>
      val types = rows.toSeq.sortBy(r => (r._2, r._3)).map(_._4)
      startCnt(types.head) = startCnt.getOrElse(types.head, 0L) + 1L
      types.sliding(2).foreach {
        case Seq(a, b) => cnt((a, b)) = cnt.getOrElse((a, b), 0L) + 1L
        case _ =>
      }
    }
    val tot = cnt.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val users = startCnt.values.sum
    def step(prev: Map[String, Long], removed: Option[String]): Map[String, Long] =
      tot.map { case (s, t) =>
        val num = cnt.iterator.collect { case ((`s`, d), c) =>
          val pd =
            if (d == "purchase") 1000000L
            else if (removed.contains(d)) 0L
            else prev.getOrElse(d, 0L)
          c * pd
        }.sum
        s -> num / t
      }
    def reach(p3: Map[String, Long], removed: Option[String]): Long = {
      val num = startCnt.iterator.collect {
        case (s, n) if !removed.contains(s) => n * p3.getOrElse(s, 0L)
      }.sum
      num / users
    }
    val p1 = step(Map.empty, None)
    val fullReach = reach(step(step(p1, None), None), None)
    val expected = Seq("click", "error", "signup", "view").map { c =>
      c -> reach(step(step(p1, Some(c)), Some(c)), Some(c))
    }.toMap
    val got = Pipeline36.qMarkovRemoval(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (c, (rf, rr, drop)) =>
      assert(rf == fullReach, s"full reach for $c")
      assert(rr == expected(c), s"removed reach for $c")
      assert(drop == rf - rr)
      assert(drop >= 0L, s"removal effect negative for $c")
    }
  }
}
