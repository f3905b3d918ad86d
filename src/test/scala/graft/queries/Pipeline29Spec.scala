package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline29Spec extends SparkSpec {

  /** The co-purchase edge set (w >= 2), driver-side: row-pair
    * multiplicities accumulated per order, exactly the Spark/DuckDB
    * self-join count.
    */
  private def coPurchaseEdges(): Seq[(Long, Long)] = {
    val li = tables.lineitem
      .select(col("l_orderkey").cast("long"), col("l_partkey").cast("long"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val cnt = mutable.Map.empty[(Long, Long), Int]
    li.groupBy(_._1).valuesIterator.foreach { rows =>
      val pks = rows.map(_._2)
      for (i <- pks.indices; j <- pks.indices if pks(i) < pks(j)) {
        val e = (pks(i), pks(j))
        cnt(e) = cnt.getOrElse(e, 0) + 1
      }
    }
    cnt.iterator.collect { case (e, c) if c >= 2 => e }.toSeq
  }

  test("q_khop_bfs matches a driver-side BFS replay") {
    val edges = coPurchaseEdges()
    assert(edges.nonEmpty)
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.Set.empty) += v
      adj.getOrElseUpdate(v, mutable.Set.empty) += u
    }
    val seed = edges.iterator.flatMap(e => Iterator(e._1, e._2)).min
    val dist = mutable.Map(seed -> 0L)
    var frontier = Set(seed)
    for (h <- 1 to 3) {
      frontier = frontier
        .flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = h.toLong)
    }
    val got = Pipeline29.qKhopBfs(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist.toMap)
    assert(got(seed) == 0L)
    // the expansion is genuine: at least two distance levels appear
    assert(got.values.toSet.size >= 2)
  }

  /** Driver-side 3-gram shingle profiles: doc -> distinct shingle
    * set, replicating the Spark/DuckDB tokenization exactly.
    */
  private def profiles(): Map[Long, Set[String]] = {
    val docs = tables.documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    docs.map { case (id, tx) =>
      val t = tx.toLowerCase.trim.split("\\s+", -1)
      val sh =
        if (t.length < 3) Set.empty[String]
        else (0 to t.length - 3)
          .map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
      id -> sh
    }.filter(_._2.nonEmpty).toMap
  }

  test("dd_prefix_filter equals the naive all-pairs definition") {
    val prof = profiles()
    val ids = prof.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      inter = prof(a).intersect(prof(b)).size
      if inter > 0
      union = prof(a).size + prof(b).size - inter
      if 10L * inter >= 6L * union
    } yield {
      val jac = BigDecimal(inter.toDouble / union)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (a, b, jac)
    }).toSet
    val got = Pipeline29.ddPrefixFilter(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    // non-degenerate: the corpus's duplicate clusters fire pairs
    assert(got.nonEmpty)
    assert(got.forall { case (a, b, j) => a < b && j >= 0.5999 && j <= 1.0 })
  }

  test("prefix indexing prunes the candidate index vs the full profile") {
    val prof = profiles()
    assert(prof.values.exists(_.size >= 4), "need multi-shingle profiles")
    val full = prof.values.map(_.size.toLong).sum
    // prefix length n - ceil(0.6 n) + 1 per doc
    val prefix = prof.values.map { s =>
      val n = s.size.toLong
      n - ((6 * n + 9) / 10) + 1
    }.sum
    assert(prefix < full,
      s"prefix postings ($prefix) should undercut the full index ($full)")
    // at tau=0.6 the prefix is under ~half the index
    assert(prefix.toDouble / full < 0.6)
  }
}
