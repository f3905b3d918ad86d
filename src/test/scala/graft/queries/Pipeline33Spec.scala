package graft.queries

import graft.SparkSpec
import graft.streaming.{AnomEvent, AnomFlag, EventStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.collection.mutable

class Pipeline33Spec extends SparkSpec {

  private def ppmChain(): (Map[String, Long], Map[String, Long], Map[String, Long]) = {
    val ev = tables.events
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val cnt = mutable.Map.empty[(String, String), Long]
    ev.groupBy(_._1).valuesIterator.foreach { rows =>
      val types = rows.toSeq.sortBy(r => (r._2, r._3)).map(_._4)
      types.sliding(2).foreach {
        case Seq(a, b) => cnt((a, b)) = cnt.getOrElse((a, b), 0L) + 1L
        case _ =>
      }
    }
    val tot = cnt.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    def step(prev: Map[String, Long]): Map[String, Long] =
      tot.map { case (s, t) =>
        val num = cnt.iterator.collect { case ((`s`, d), c) =>
          c * (if (d == "purchase") 1000000L else prev.getOrElse(d, 0L))
        }.sum
        s -> num / t
      }
    val p1 = step(Map.empty)
    val p2 = step(p1)
    (p1, p2, step(p2))
  }

  test("q_markov_absorption equals a driver-side exact ppm replay") {
    val (p1, p2, p3) = ppmChain()
    val got = Pipeline33.qMarkovAbsorption(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == p1.keySet)
    got.foreach { case (s, (a, b, c)) =>
      assert(a == p1(s) && b == p2(s) && c == p3(s), s"state $s")
    }
  }

  test("absorption probability is monotone in the horizon and <= 1") {
    val rows = Pipeline33.qMarkovAbsorption(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, c) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(0L <= a && a <= b && b <= c && c <= 1000000L, r.toString)
    }
  }

  /** Driver replay of the exact-integer prior-moments flag rule. */
  private def replayFlags(events: Seq[AnomEvent]): Set[(Long, Long, Long)] = {
    val out = mutable.Set.empty[(Long, Long, Long)]
    events.groupBy(_.user_id).foreach { case (uid, rows) =>
      var n = 0L
      var sx = BigInt(0)
      var sx2 = BigInt(0)
      rows.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val x = BigInt(e.fx)
        if (n >= 5L) {
          val dx = BigInt(n) * x - sx
          if (dx * dx > BigInt(9) * (BigInt(n) * sx2 - sx * sx))
            out += ((uid, e.event_id, n))
        }
        n += 1L; sx += x; sx2 += x * x
      }
    }
    out.toSet
  }

  private def runStream(batches: Seq[Seq[AnomEvent]]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[AnomEvent]
    val name = "anom_out_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.anomalyZscore(mem.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      spark.table(name).as[AnomFlag].collect()
        .map(f => (f.user_id, f.event_id, f.n_prior)).toSet
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("anomalyZscore flags a 3-sigma break and carries state across batches") {
    val base = Seq(100L, 102L, 98L, 101L, 99L).zipWithIndex.map { case (v, i) =>
      AnomEvent(1L, i + 1L, i * 60L, v * 1000000L)
    }
    val spike = AnomEvent(1L, 6L, 360L, 500L * 1000000L)
    val calm = AnomEvent(1L, 7L, 420L, 100L * 1000000L)
    val all = base :+ spike :+ calm
    val expected = replayFlags(all)
    // the spike (5 priors, far outside 3 sigma) and ONLY it flags;
    // note the post-spike calm row is NOT flagged even though the
    // spike inflated the variance — priors include it.
    assert(expected == Set((1L, 6L, 5L)))
    // one batch vs split-by-time batches: identical flag set (state
    // carried exactly across the micro-batch boundary).
    assert(runStream(Seq(all)) == expected)
    assert(runStream(Seq(base, Seq(spike, calm))) == expected)
  }

  test("anomalyZscore over the events table matches the driver replay") {
    import spark.implicits._
    val ev = tables.events
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us"),
        expr("CAST(round(value * 1000000.0, 0) AS BIGINT)").as("fx"))
      .as[AnomEvent].collect().toSeq
    val expected = replayFlags(ev)
    val got = runStream(Seq(ev))
    assert(got == expected)
    assert(got.nonEmpty)
  }
}
