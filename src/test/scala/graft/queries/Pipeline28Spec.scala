package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline28Spec extends SparkSpec {

  test("q_fd_check matches brute-force dependency verification") {
    def fd(pairs: Seq[(Any, Any)]): (Long, Long) = {
      val m = pairs.distinct.groupBy(_._1)
      (m.size.toLong, m.count(_._2.size > 1).toLong)
    }
    val o = tables.orders.select(col("o_orderkey"), col("o_custkey"))
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    val c = tables.customer.select(col("c_custkey"), col("c_nationkey"))
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    val l = tables.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    val pn = tables.part.select(col("p_name"), col("p_brand"))
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    val pb = tables.part.select(col("p_brand"), col("p_type"))
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    val expected = Map(
      "orderkey->custkey" -> fd(o), "custkey->nationkey" -> fd(c),
      "orderkey->suppkey" -> fd(l), "pname->brand" -> fd(pn),
      "brand->ptype" -> fd(pb))
    val got = Pipeline28.qFdCheck(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (nl, nv, h)) =>
      assert((nl, nv) == expected(k), s"$k")
      assert(h == (if (nv == 0) 1L else 0L))
    }
    // key-functional FDs hold; the many-to-many candidates don't
    assert(got("orderkey->custkey")._3 == 1L)
    assert(got("custkey->nationkey")._3 == 1L)
    assert(got("orderkey->suppkey")._3 == 0L)
  }

  test("sm_negative_pairs is deterministic, cross-source, <=3 per anchor") {
    val docs = tables.documents.select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = docs.toMap
    val n = docs.length.toLong
    val stride = n / 7 + 1
    val expected = (for {
      (d, s) <- docs; j <- 1L to 3L
      neg = (d + j * stride) % n
      if neg != d && src(neg) != s
    } yield (d, j, neg, s, src(neg))).toSet
    // read columns by name: the join reorders them
    val got2 = Pipeline28.smNegativePairs(tables).collect().map { r =>
      val m = r.getValuesMap[Any](Seq("doc_id", "j", "neg_id", "source", "neg_source"))
      (m("doc_id").asInstanceOf[Long], m("j").asInstanceOf[Long],
        m("neg_id").asInstanceOf[Long], m("source").asInstanceOf[String],
        m("neg_source").asInstanceOf[String])
    }.toSet
    assert(got2 == expected)
    // never a same-source or self pair; at most 3 per anchor
    assert(got2.forall { case (d, _, neg, s, ns) => neg != d && s != ns })
    assert(got2.groupBy(_._1).forall(_._2.size <= 3))
  }
}
