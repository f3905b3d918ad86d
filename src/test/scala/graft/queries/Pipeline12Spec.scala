package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline12Spec extends SparkSpec {

  // ---- q_window_distinct ----

  test("q_window_distinct matches a naive per-day recount") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val rows = t.events
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("d"),
        col("user_id"))
      .collect().map { case Row(et: String, d: Long, u: Long) => (et, d, u) }
    val days = rows.map(r => (r._1, r._2)).distinct
    val expected = days.map { case (et, day) =>
      (et, day) -> rows.collect {
        case (e, d, u) if e == et && d >= day - 6 && d <= day => u
      }.distinct.size.toLong
    }.toMap
    val got = Pipeline12.qWindowDistinct(tables).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  // ---- q_assoc_rules ----

  test("q_assoc_rules ratios recomputed from scratch") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val baskets = t.events.select(col("user_id"), col("event_type")).distinct()
      .collect().map { case Row(u: Long, et: String) => (u, et) }
    val nu = baskets.map(_._1).distinct.size.toLong
    val supp = baskets.groupBy(_._2).map { case (et, rs) => et -> rs.size.toLong }
    val pairSupp = baskets.toSeq.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val ts = rs.map(_._2)
      for (a <- ts; b <- ts if a != b) yield (a, b)
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val got = Pipeline12.qAssocRules(tables).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (a, b) = (r.getAs[String]("ante"), r.getAs[String]("cons"))
      val sab = pairSupp((a, b))
      assert(r.getAs[Long]("supp_ab") == sab)
      assert(r.getAs[Long]("conf_fx") == sab * 1000000L / supp(a))
      assert(r.getAs[Long]("lift_fx") ==
        (BigInt(sab) * nu * 1000000 / (BigInt(supp(a)) * supp(b))).toLong)
    }
    assert(got.length == pairSupp.size)
  }

  // ---- sm_reservoir ----

  test("sm_reservoir is a stable k-subset that ignores partitioning") {
    val a = Pipeline12.smReservoir(tables).collect().map(_.getLong(0)).sorted
    assert(a.length == 100)
    // same result when the source is read with a different layout
    val t = graft.Tables(spark, sfDir)
    val re = t.documents.repartition(7)
      .select(col("doc_id"), col("lang"),
        graft.operators.Sampling.idBucket(col("doc_id"), 1000000).as("pri"))
      .orderBy(col("pri"), col("doc_id")).limit(100)
      .collect().map(_.getLong(0)).sorted
    assert(a.toSeq == re.toSeq)
  }

  // ---- sm_class_balance ----

  test("sm_class_balance equalizes every class to the minority count") {
    val rows = Pipeline12.smClassBalance(tables).collect()
    val t = graft.Tables(spark, sfDir)
    val counts = t.embeddings.groupBy(col("label")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val minC = counts.values.min
    assert(rows.length == counts.size)
    rows.foreach(r => assert(r.getAs[Long]("n_kept") == minC))
  }
}
