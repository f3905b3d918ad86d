package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline26Spec extends SparkSpec {

  test("q_attribution conserves exactly 1e6 ppm per converting user") {
    val ev = tables.events
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"),
        col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    var converting = 0L
    ev.groupBy(_._1).foreach { case (_, xs) =>
      val purchases = xs.filter(_._2 == "purchase").map(_._3)
      if (purchases.nonEmpty) {
        val p = purchases.min
        val touches = xs
          .filter(x => Set("click", "view", "signup")(x._2) && x._3 < p)
          .sortBy(x => (x._3, x._4))
        if (touches.nonEmpty) converting += 1
        val k = touches.length.toLong
        touches.zipWithIndex.foreach { case (t, i) =>
          val rn = i + 1L
          val credit =
            if (k == 1) 1000000L
            else if (k == 2) 500000L
            else if (rn == 1) 400000L
            else if (rn == k) 400000L + (200000L - (k - 2) * (200000L / (k - 2)))
            else 200000L / (k - 2)
          val (c, n) = expected(t._2)
          expected(t._2) = (c + credit, n + 1)
        }
      }
    }
    val got = Pipeline26.qAttribution(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected.toMap)
    // exact conservation: total credit = 1e6 per user with >=1 touch
    assert(got.values.map(_._1).sum == 1000000L * converting)
  }

  test("q_audience_overlap equals set arithmetic on user bases") {
    val ut = tables.events.select(col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).distinct
    val byType = ut.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val types = byType.keys.toSeq.sorted
    val expected = (for {
      i <- types.indices; j <- i + 1 until types.length
      a = types(i); b = types(j)
      both = (byType(a) & byType(b)).size.toLong
    } yield (a, b) -> ((byType(a).size.toLong, byType(b).size.toLong, both,
      1000000L * both / (byType(a).size + byType(b).size - both)))).toMap
    // read columns by name: the final joins reorder the key columns
    val got2 = Pipeline26.qAudienceOverlap(tables).collect()
      .map { r =>
        val m = r.getValuesMap[Any](Seq("type_a", "type_b", "n_a", "n_b",
          "n_both", "jaccard_fx"))
        (m("type_a").asInstanceOf[String], m("type_b").asInstanceOf[String]) ->
          ((m("n_a").asInstanceOf[Long], m("n_b").asInstanceOf[Long],
            m("n_both").asInstanceOf[Long], m("jaccard_fx").asInstanceOf[Long]))
      }.toMap
    assert(got2 == expected)
    assert(got2.size == types.length * (types.length - 1) / 2)
  }
}
