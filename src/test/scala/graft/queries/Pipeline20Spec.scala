package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline20Spec extends SparkSpec {

  test("q_label_prop equals a driver-side synchronous LPA replay") {
    val li = tables.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // row-pair multiplicities, not distinct parts: the query joins
    // lineitem ROWS, so an order holding part u twice and v once
    // contributes 2 to w(u, v)
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2))
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Int]
    byOrder.foreach { case (_, rows) =>
      val cnt = rows.groupBy(identity).view.mapValues(_.size).toMap
      val ks = cnt.keys.toSeq.sorted
      for (i <- ks.indices; j <- i + 1 until ks.length)
        pairCnt((ks(i), ks(j))) =
          pairCnt.getOrElse((ks(i), ks(j)), 0) + cnt(ks(i)) * cnt(ks(j))
    }
    val und = pairCnt.collect { case ((u, v), c) if c >= 2 => Seq(u -> v, v -> u) }
      .flatten.toSeq.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = adj.map { case (node, nbrs) =>
        val votes = nbrs.groupBy(lbl).view.mapValues(_.size)
        // most frequent, smallest label on ties
        node -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val got = Pipeline20.qLabelProp(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == lbl)
    // communities are non-trivial: fewer labels than nodes
    assert(got.values.toSet.size < got.size)
  }

  test("tx_ngram_novelty matches first-occurrence attribution from scratch") {
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
    val docGrams = docs.map { case (id, text) =>
      val t = text.split(" ", -1)
      val gs =
        if (t.length < 5) Set.empty[Long]
        else (0 to t.length - 5)
          .map(i => rh((i until i + 5).map(t).mkString(" "))).toSet
      id -> gs
    }
    val firstDoc = docGrams.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = docGrams.collect { case (id, gs) if gs.nonEmpty =>
      val novel = gs.count(g => firstDoc(g) == id).toLong
      id -> ((gs.size.toLong, novel, 1000000L * novel / gs.size))
    }.toMap
    val got = Pipeline20.txNgramNovelty(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // the earliest doc with grams is fully novel
    val firstId = expected.keys.min
    assert(expected(firstId)._3 == 1000000L)
  }

  test("tx_charclass_profile recomputed from raw character counts") {
    val docs = tables.documents.select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, xs) =>
      val texts = xs.map(_._2)
      def isD(c: Char) = c >= '0' && c <= '9' // ASCII class, like the regex
      val nc = texts.map(_.length.toLong).sum
      val nd = texts.map(_.count(isD).toLong).sum
      val ns = texts.map(_.count(c => c == ' ' || c == '\t' || c == '\n' || c == '\r').toLong).sum
      val np = texts.map(_.count(c =>
        !(isD(c) || (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
          c == ' ' || c == '\t' || c == '\n' || c == '\r')).toLong).sum
      val ctrl = texts.count(_.exists(c =>
        (c >= 1 && c <= 8) || c == 11 || c == 12 || (c >= 14 && c <= 31))).toLong
      src -> ((xs.length.toLong, nc,
        1000000L * nd / nc, 1000000L * ns / nc, 1000000L * np / nc, ctrl))
    }
    val got = Pipeline20.txCharclassProfile(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expected)
    // shares live on the ×10⁶ scale and can't sum past it
    assert(got.values.forall { case (_, _, d, s, p, _) =>
      d + s + p <= 1000000L })
  }
}
