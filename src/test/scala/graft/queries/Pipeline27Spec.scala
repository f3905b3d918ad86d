package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline27Spec extends SparkSpec {

  test("q_peak_concurrency equals a sequential sweep-line replay") {
    val ev = tables.events
      .select(col("event_type"), expr("unix_micros(ts)")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val win = 300000000L
    val expected = ev.groupBy(_._1).map { case (t, xs) =>
      val deltas = (xs.map(x => (x._2, 1L)) ++ xs.map(x => (x._2 + win, -1L)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
      var c = 0L; var best = Long.MinValue; var bestUs = 0L
      deltas.foreach { case (us, d) =>
        c += d
        if (c > best) { best = c; bestUs = us }
      }
      t -> ((best, bestUs))
    }
    val got = Pipeline27.qPeakConcurrency(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    // at the peak at least one interval is open
    assert(got.values.forall(_._1 >= 1))
  }

  test("sm_time_split partitions events, embargo is exactly 3 days") {
    val days = tables.events
      .select(to_date(col("ts")).as("day")).collect()
      .map(_.getDate(0).toLocalDate.toEpochDay)
    val hist = days.groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val nAll = days.length.toLong
    var cum = 0L
    val trainEnd = hist.find { case (_, c) => cum += c; cum * 100 >= nAll * 70 }
      .get._1
    val expected = days.groupBy { d =>
      if (d <= trainEnd) "train"
      else if (d <= trainEnd + 3) "embargo"
      else "test"
    }.map { case (s, xs) => s -> ((xs.length.toLong, xs.min, xs.max)) }
    val got = Pipeline27.smTimeSplit(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        r.getDate(2).toLocalDate.toEpochDay,
        r.getDate(3).toLocalDate.toEpochDay))).toMap
    assert(got == expected)
    // splits partition the corpus, and train leads test with a gap
    assert(got.values.map(_._1).sum == nAll)
    for (tr <- got.get("train"); te <- got.get("test"))
      assert(te._2 - tr._3 > 3, "embargo gap violated")
  }
}
