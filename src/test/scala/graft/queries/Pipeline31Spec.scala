package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline31Spec extends SparkSpec {

  test("q_sssp_weighted matches a driver-side Bellman-Ford replay") {
    val li = tables.lineitem
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val cnt = mutable.Map.empty[(Long, Long), Long]
    li.groupBy(_._1).valuesIterator.foreach { rows =>
      val pks = rows.map(_._2)
      for (i <- pks.indices; j <- pks.indices if pks(i) < pks(j)) {
        val e = (pks(i), pks(j))
        cnt(e) = cnt.getOrElse(e, 0L) + 1L
      }
    }
    val edges = cnt.iterator.collect {
      case ((u, v), w) if w >= 2 => (u, v, 1000L / w)
    }.toSeq
    assert(edges.nonEmpty)
    val adj = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    edges.foreach { case (u, v, c) =>
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += ((v, c))
      adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += ((u, c))
    }
    val seed = edges.iterator.flatMap(e => Iterator(e._1, e._2)).min
    // Bellman-Ford, 3 rounds: dist_r = min cost over <=r-edge paths.
    var dist = Map(seed -> 0L)
    for (_ <- 1 to 3) {
      val nxt = mutable.Map.empty[Long, Long] ++ dist
      dist.foreach { case (n, c) =>
        adj.getOrElse(n, Nil).foreach { case (m, ec) =>
          val cand = c + ec
          if (cand < nxt.getOrElse(m, Long.MaxValue)) nxt(m) = cand
        }
      }
      dist = nxt.toMap
    }
    val got = Pipeline31.qSsspWeighted(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist)
    assert(got(seed) == 0L)
    // weighted costs genuinely differ from uniform hop counts
    assert(got.values.exists(c => c > 0 && c % 1000 != 0) ||
      got.values.toSet.size >= 2)
  }

  private def fxVecs(): Map[Long, (Array[Long], Int)] =
    tables.embeddings.select(col("vec_id"), col("embedding"), col("label"))
      .collect()
      .map { r =>
        val fx = r.getSeq[Float](1).toArray.map(x =>
          BigDecimal(x.toDouble * 1000000.0)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        r.getLong(0) -> ((fx, r.getInt(2)))
      }.toMap

  test("q_medoid closed form equals the naive pairwise medoid") {
    val v = fxVecs()
    val expected = v.groupBy(_._2._2).map { case (label, members) =>
      val ms = members.toSeq.map { case (id, (fx, _)) => (id, fx) }
      def d2(a: Array[Long], b: Array[Long]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val scored = ms.map { case (id, fx) =>
        (id, ms.map { case (_, fy) => d2(fx, fy) }.sum)
      }
      val (mid, score) = scored.minBy { case (id, s) => (s, id) }
      label.toLong -> ((mid, score, ms.size))
    }
    val got = Pipeline31.qMedoid(tables).collect()
      .map(r => r.getInt(0).toLong ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (label, (mid, score, n)) =>
      val (gMid, gScore, gMsd) = got(label)
      assert(gMid == mid, s"label $label medoid")
      assert(gScore == score, s"label $label closed-form score drift")
      val msd = BigDecimal(score.toDouble / (n.toDouble * 1e12))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(gMsd - msd) < 1e-9)
    }
  }

  test("medoid score is partitioning-invariant (exact integer moments)") {
    val base = Pipeline31.qMedoid(tables).collect().toSet
    val re = Pipeline31.qMedoid(tables)
    // a different physical layout must not move any score bit
    val shuffled = re.repartition(7).collect().toSet
    assert(base == shuffled)
  }
}
