package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class Pipeline17Spec extends SparkSpec {

  private def jw(a: String, b: String): Double =
    graft.functions.JaroWinkler.compute(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("dd_jaro_winkler recomputed from scratch over the blocked pairs") {
    val parts = tables.part
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = (for {
      a <- parts; b <- parts
      if a._1 < b._1
      if a._2.split(" ").head == b._2.split(" ").head && a._3 == b._3
      sim = BigDecimal(jw(a._2, b._2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if sim >= 0.88
    } yield (a._1, b._1) -> sim).toMap
    val got = Pipeline17.ddJaroWinkler(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expected)
    assert(got.nonEmpty, "threshold never fires — fixture degenerate")
    // and it is selective: fewer matches than blocked pairs
    val blockedPairs = (for {
      a <- parts; b <- parts
      if a._1 < b._1 && a._2.split(" ").head == b._2.split(" ").head && a._3 == b._3
    } yield 1).size
    assert(got.size < blockedPairs)
  }

  test("tx_zipf_slope matches closed-form OLS on one source and is Zipf-negative") {
    val toks = tables.documents
      .select(col("source"), col("text"))
      .collect().flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(tk => (r.getString(0), tk)))
    val src = toks.head._1
    val freqs = toks.filter(_._1 == src).groupBy(_._2)
      .map { case (tk, xs) => tk -> xs.length.toLong }
      .toSeq.sortBy { case (tk, c) => (-c, tk) }
    val pts = freqs.zipWithIndex.map { case ((_, c), i) =>
      (math.log10((i + 1).toDouble), math.log10(c.toDouble))
    }
    val n = pts.length.toDouble
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val slope = pts.map(p => (p._1 - mx) * (p._2 - my)).sum /
      pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val got = Pipeline17.txZipfSlope(tables).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(3)))).toMap
    assert(math.abs(got(src)._1 - slope) < 1e-3)
    assert(got(src)._2 == freqs.size.toLong)
    // every source's fit is downward-sloping (frequency falls with rank)
    assert(got.values.forall(_._1 < 0))
  }

  test("tx_hapax_ratio recomputed exactly") {
    val toks = tables.documents
      .select(col("source"), col("text"))
      .collect().flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(tk => (r.getString(0), tk)))
    val expected = toks.groupBy(_._1).map { case (src, xs) =>
      val freqs = xs.groupBy(_._2).map(_._2.length.toLong)
      val vocab = freqs.size.toLong
      val hapax = freqs.count(_ == 1L).toLong
      src -> ((vocab, xs.length.toLong, hapax, hapax * 1000000L / vocab))
    }
    val got = Pipeline17.txHapaxRatio(tables).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
  }

  test("q_interval_merge recomputed from scratch (span union per user)") {
    val rows = tables.events
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).map { case (uid, xs) =>
      val iv = xs.sortBy(e => (e._2, e._3))
        .map(e => (e._2, e._2 + 300000000L))
      val islands = iv.tail.foldLeft(Vector(iv.head)) { case (acc, (s, e)) =>
        val (cs, ce) = acc.last
        if (s > ce) acc :+ ((s, e))
        else acc.init :+ ((cs, math.max(ce, e)))
      }
      val lens = islands.map { case (s, e) => e - s }
      uid -> ((islands.size.toLong, lens.sum / 1000000L, lens.max / 1000000L))
    }
    val got = Pipeline17.qIntervalMerge(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
    // fixture non-degenerate: somebody has >1 island, somebody merged
    assert(got.values.exists(_._1 > 1))
    assert(got.values.exists(v => v._2 > 300L))
  }

  test("q_mode recomputed (argmax with alphabetical tie-break)") {
    val rows = tables.events.select(col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = rows.groupBy(_._1).map { case (uid, xs) =>
      val counts = xs.groupBy(_._2).view.mapValues(_.length.toLong).toSeq
      val best = counts.minBy { case (t, c) => (-c, t) }
      uid -> ((best._1, best._2))
    }
    val got = Pipeline17.qMode(tables).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("sm_split_chi2 cells reproduce the contingency and chi2 identities") {
    val got = Pipeline17.smSplitChi2(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val nDocs = tables.documents.count()
    assert(got.map(_._3).sum == nDocs, "cells must partition the corpus")
    assert(got.map(_._1).distinct.sorted.toSeq == Seq("test", "train", "val"))
    // expected counts reproduce marginal products
    val splitTot = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val srcTot = got.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    got.foreach { case (sp, src, _, e, chi) =>
      val eRef = BigDecimal(splitTot(sp).toDouble * srcTot(src) / nDocs)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(e - eRef) < 1e-9, s"cell ($sp,$src) expected")
      assert(chi >= 0.0)
    }
    // the hash split is roughly independent of source: every cell's
    // chi2 contribution stays small on this synthetic corpus
    assert(got.map(_._5).sum < 100.0)
  }
}
