package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline15Spec extends SparkSpec {

  test("dd_line_dedup recomputed from scratch (df>=3 segments removed everywhere)") {
    val docs = tables.documents.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def segs(text: String): Vector[String] =
      text.split(" ", -1).grouped(10).map(_.mkString(" ")).toVector
    val df = docs.toSeq
      .flatMap { case (id, t) => segs(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, rs) => s -> rs.size }
    val boiler = df.filter(_._2 >= 3).keySet
    val expected = docs.map { case (id, t) =>
      val all = segs(t)
      val kept = all.filterNot(boiler.contains)
      id -> ((all.size.toLong, kept.size.toLong, kept.mkString(" ")))
    }
    val got = Pipeline15.ddLineDedup(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == expected)
    // the threshold actually fires on this corpus, and not on everything
    assert(boiler.nonEmpty, "no boilerplate segment found — fixture degenerate")
    assert(got.values.exists(_._2 > 0), "every segment removed — fixture degenerate")
  }

  test("dd_line_dedup removes a repeated segment from its FIRST occurrence too") {
    // Distinguishes E24 from G14's keep-first semantics: pick any
    // boilerplate segment and assert NO doc retains it.
    val out = Pipeline15.ddLineDedup(tables).collect()
    val removedSomething = out.filter(r => r.getLong(2) < r.getLong(1))
    assert(removedSomething.nonEmpty)
    val keptTexts = out.map(_.getString(3))
    val docs = tables.documents.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def segs(text: String): Vector[String] =
      text.split(" ", -1).grouped(10).map(_.mkString(" ")).toVector
    val dfc = docs.toSeq.flatMap { case (id, t) => segs(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, rs) => s -> rs.size }
    val aBoiler = dfc.filter(_._2 >= 3).keys.head
    assert(!keptTexts.exists(t => segs(t).contains(aBoiler)),
      s"boilerplate segment survived in some doc: '$aBoiler'")
  }

  test("q_markov_transitions recomputed from scratch") {
    val rows = tables.events
      .select(col("user_id"), col("ts").cast("long"), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val pairs = rows.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._2, e._3)).map(_._4)
      ordered.zip(ordered.drop(1))
    }
    val cnt = pairs.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val srcTot = cnt.groupBy(_._1._1).map { case (s, xs) => s -> xs.values.sum }
    val expected = cnt.map { case ((s, d), c) =>
      (s, d) -> ((c, c * 1000000L / srcTot(s)))
    }
    val got = Pipeline15.qMarkovTransitions(tables).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("tx_lang_confusion matrix is complete and shares row-normalize") {
    val m = Pipeline15.txLangConfusion(tables).collect()
    assert(m.map(_.getLong(2)).sum == tables.documents.count())
    m.groupBy(_.getString(0)).foreach { case (claimed, rs) =>
      val shareSum = rs.map(_.getLong(3)).sum
      // integer floor division: within one ulp-per-cell of 10^6
      assert(shareSum <= 1000000L && shareSum > 1000000L - rs.length,
        s"$claimed shares sum to $shareSum over ${rs.length} cells")
    }
    // the audit is non-degenerate: agreement and disagreement both occur
    assert(m.exists(r => r.getString(0) == r.getString(1)))
    assert(m.exists(r => r.getString(0) != r.getString(1)))
  }

  test("sm_length_buckets two-phase rank ≡ naive per-bucket window") {
    val base = tables.documents.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"))
      .withColumn("bucket", expr("(tok - 1) div 64"))
      .withColumn("mix",
        expr("((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007"))
    val naive = base
      .withColumn("batch", expr(s"(row_number() OVER (PARTITION BY bucket ORDER BY mix, doc_id) - 1) div 8"))
      .select(col("doc_id"), col("tok"), col("bucket"), col("batch"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val got = Pipeline15.smLengthBuckets(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == naive)
  }

  test("sm_length_buckets batches are full-size except each bucket's last") {
    val out = Pipeline15.smLengthBuckets(tables).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    val sizes = out.groupBy(identity).map { case (k, xs) => k -> xs.size }
    sizes.groupBy(_._1._1).foreach { case (bucket, bs) =>
      val lastBatch = bs.keys.map(_._2).max
      bs.foreach { case ((_, batch), n) =>
        assert(n <= 8)
        if (batch != lastBatch)
          assert(n == 8, s"bucket $bucket batch $batch has $n docs")
      }
    }
    // docs in one batch share a bucket by construction; check width bound
    out.foreach { case (bucket, _) => assert(bucket >= 0) }
  }
}
