package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline39Spec extends SparkSpec {

  private def polyHash(tok: String): Long = {
    var acc = 7L
    tok.foreach { c => acc = (acc * 31L + c.toLong) % 1000000007L }
    (acc * 2654435761L + 1013904223L) % 1000000007L
  }

  test("tx_feature_hashing equals a driver hash replay and bounds width") {
    val docs = tables.documents.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = mutable.Map.empty[(Long, Long), Long]
    docs.foreach { case (id, text) =>
      text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { tok =>
        val h = polyHash(tok)
        val dim = h % 64L
        val sign = if ((h / 64L) % 2L == 0L) 1L else -1L
        expected((id, dim)) = expected.getOrElse((id, dim), 0L) + sign
      }
    }
    val got = Pipeline39.txFeatureHashing(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected.toMap)
    // Width bound: at most 64 dims per doc.
    got.keySet.groupBy(_._1).foreach { case (d, ks) =>
      assert(ks.size <= 64, s"doc $d wider than 64")
    }
  }

  test("q_link_prediction equals a driver wedge replay") {
    val li = tables.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val co = mutable.Map.empty[(Long, Long), Long]
    li.groupBy(_._1).valuesIterator.foreach { rows =>
      val ps = rows.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length if ps(i) < ps(j))
        co((ps(i), ps(j))) = co.getOrElse((ps(i), ps(j)), 0L) + 1L
    }
    val edges = co.filter(_._2 >= 2L).keySet
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.Set.empty) += v
      adj.getOrElseUpdate(v, mutable.Set.empty) += u
    }
    val deg = adj.map { case (n, s) => n -> s.size.toLong }
    val cn = mutable.Map.empty[(Long, Long), Long]
    adj.foreach { case (center, nbrs) =>
      if (nbrs.size <= 50) {
        val ns = nbrs.toSeq.sorted
        for (i <- ns.indices; j <- (i + 1) until ns.length)
          cn((ns(i), ns(j))) = cn.getOrElse((ns(i), ns(j)), 0L) + 1L
      }
    }
    val cands = cn.toSeq
      .filterNot { case (p, _) => edges.contains(p) }
      .map { case ((a, b), c) =>
        (a, b, c, c * 1000000L / (deg(a) + deg(b) - c))
      }
      .sortBy { case (a, b, c, _) => (-c, a, b) }
      .take(20)
    val got = Pipeline39.qLinkPrediction(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy { case (a, b, c, _) => (-c, a, b) }
    assert(got.toSeq == cands)
    // Every predicted pair is genuinely non-adjacent.
    got.foreach { case (a, b, _, _) => assert(!edges.contains((a, b))) }
  }
}
