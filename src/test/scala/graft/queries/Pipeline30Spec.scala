package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline30Spec extends SparkSpec {

  private def vecs(): Map[Long, (Array[Float], Int)] = {
    tables.embeddings.select(col("vec_id"), col("embedding"), col("label"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Float](1).toArray, r.getInt(2))))
      .toMap
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Directed cell-local kNN lists (k=5), replayed driver-side. */
  private def knnLists(v: Map[Long, (Array[Float], Int)]): Map[Long, Seq[Long]] =
    v.map { case (src, (av, lab)) =>
      val ranked = v.toSeq
        .collect { case (dst, (bv, l2)) if l2 == lab && dst != src =>
          (dst, r4(cos(av, bv)))
        }
        .sortBy { case (dst, s) => (-s, dst) }
        .take(5).map(_._1)
      src -> ranked
    }

  test("sim_knn_mutual equals the driver-side mutual-kNN replay") {
    val v = vecs()
    val knn = knnLists(v)
    val expected = (for {
      (src, lst) <- knn.iterator
      dst <- lst
      if src < dst && knn(dst).contains(src)
    } yield (v(src)._2.toLong, src, dst, r4(cos(v(src)._1, v(dst)._1)))).toSet
    val got = Pipeline30.simKnnMutual(tables).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // mutuality: every edge endpoint pair is in each other's top-5
    got.foreach { case (_, a, b, _) =>
      assert(knn(a).contains(b) && knn(b).contains(a))
    }
  }

  test("sim_knn_mutual is a strict subset of the directed kNN edges") {
    val v = vecs()
    val knn = knnLists(v)
    val directed = knn.iterator.flatMap { case (s, l) => l.map(d => (s, d)) }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.toSet
    val mutual = Pipeline30.simKnnMutual(tables).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(mutual.subsetOf(directed))
    assert(mutual.size < directed.size,
      "the mutual filter should drop some one-directional edges")
  }

  test("sim_hard_negatives mines cross-label top-3 by cosine") {
    val v = vecs()
    val got = Pipeline30.simHardNegatives(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getDouble(5)))
    assert(got.length == 30) // 10 queries x top-3
    got.foreach { case (qid, rank, negId, qLab, nLab, c) =>
      assert(qLab != nLab, s"negative $negId shares label with query $qid")
      assert(rank >= 1 && rank <= 3)
      assert(v(qid)._2 == qLab && v(negId)._2 == nLab)
      assert(math.abs(r4(cos(v(qid)._1, v(negId)._1)) - c) < 1e-9)
    }
    // exactness: rank-1 negative IS the cross-label argmax
    val byQ = got.groupBy(_._1)
    byQ.foreach { case (qid, rows) =>
      val qLab = v(qid)._2
      val best = v.toSeq
        .collect { case (id, (bv, l)) if l != qLab => (id, r4(cos(v(qid)._1, bv))) }
        .sortBy { case (id, s) => (-s, id) }.head
      val got1 = rows.find(_._2 == 1L).get
      assert((got1._3, got1._6) == best)
    }
  }
}
