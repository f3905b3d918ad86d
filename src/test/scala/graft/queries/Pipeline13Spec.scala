package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline13Spec extends SparkSpec {

  // ---- src_codec_roundtrip ----

  test("codec roundtrip stage really is zstd and lossless") {
    val df = Pipeline13.srcCodecRoundtrip(tables)
    val expected = graft.Tables(spark, sfDir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_cents"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  // ---- q_ab_lift ----

  test("q_ab_lift recomputed from scratch with BigInt cross products") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    def mix(u: Long) =
      (((u % 1000000007L) * 2654435761L + 1013904223L) % 1000000007L) % 1000000L % 2L
    val rows = t.events.select(col("event_type"), col("user_id"), col("value"))
      .collect().map { case Row(et: String, u: Long, v: Double) =>
        (et, mix(u), math.round(v * 10000))
      }
    val expected = rows.groupBy(_._1).flatMap { case (et, rs) =>
      val a = rs.filter(_._2 == 0L).map(_._3)
      val b = rs.filter(_._2 == 1L).map(_._3)
      val (sa, sb) = (a.map(BigInt(_)).sum, b.map(BigInt(_)).sum)
      if (a.nonEmpty && b.nonEmpty && sa != 0)
        Some(et -> ((a.size.toLong, b.size.toLong,
          ((sb * a.size - sa * b.size) * 1000000 / (sa * b.size)).toLong)))
      else None
    }
    val got = Pipeline13.qAbLift(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected.toMap)
    assert(got.nonEmpty)
  }

  // ---- q_lag_ratio ----

  test("q_lag_ratio emits only consecutive-day rows") {
    val rows = Pipeline13.qLagRatio(tables).collect()
    assert(rows.nonEmpty)
    // ratio bounded sanity: |dod| under 100x for the synthetic series
    rows.foreach(r => assert(math.abs(r.getLong(2)) < 100000000L))
  }

  // ---- dd_multikey_er ----

  test("dd_multikey_er components match a driver-side union-find over both keys") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val docs = t.documents.select(col("doc_id"), col("text")).collect()
      .map { case Row(id: Long, tx: String) => (id, tx) }
    def norm(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    def fp(s: String) = s.trim.toLowerCase.split("\\s+").take(16).mkString(" ")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val groups =
      docs.groupBy(d => norm(d._2)).values.toSeq ++
        docs.groupBy(d => fp(d._2)).values.toSeq
    groups.foreach { g =>
      val ids = g.map(_._1).sorted
      ids.tail.foreach(union(ids.head, _))
    }
    // CC's node universe = endpoints of star edges = every member of
    // a key-group with >1 doc (the group min enters via the b side).
    val inEdge = groups.filter(_.length > 1).flatMap(_.map(_._1)).toSet
    val expected = inEdge.map(id => id -> find(id)).toMap
    val got = Pipeline13.ddMultikeyEr(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  // ---- tx_rare_tokens ----

  test("tx_rare_tokens quartile rule matches a from-scratch recount") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val toks = t.documents.select(col("doc_id"), col("text")).collect()
      .flatMap { case Row(id: Long, tx: String) =>
        tx.trim.toLowerCase.split("\\s+").map(id -> _)
      }
    val types = toks.groupBy(_._2).map { case (tok, xs) => tok -> xs.size.toLong }
    val sortedTypes = types.toSeq.sortBy { case (tok, c) => (c, tok) }
    val rare = sortedTypes.take(math.ceil(sortedTypes.size / 4.0).toInt)
      .map(_._1).toSet
    val expected = toks.groupBy(_._1).map { case (id, xs) =>
      val nr = xs.count(x => rare.contains(x._2)).toLong
      id -> ((xs.size.toLong, nr, nr * 1000000L / xs.size))
    }
    val got = Pipeline13.txRareTokens(tables).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }
}
