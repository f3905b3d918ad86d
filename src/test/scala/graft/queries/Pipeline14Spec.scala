package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline14Spec extends SparkSpec {

  test("src_file_lineage extracts every row's partition from its physical path") {
    val got = Pipeline14.srcFileLineage(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.Tables(spark, sfDir).events
      .groupBy(col("event_type")).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    assert(got.keys.forall(_.nonEmpty), "empty partition key extracted")
  }

  test("q_drawdown recomputed from scratch") {
    val t = graft.Tables(spark, sfDir)
    import org.apache.spark.sql.Row
    val daily = t.events
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("d"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v"))
      .groupBy(col("event_type"), col("d")).agg(sum(col("v")).as("x"))
      .collect().map { case Row(et: String, d: Long, x: Long) => (et, d, x) }
    val expected = daily.groupBy(_._1).map { case (et, rs) =>
      val xs = rs.sortBy(_._2).map(_._3)
      val peaks = xs.scanLeft(Long.MinValue)(math.max).drop(1)
      et -> ((peaks.zip(xs).map { case (p, x) => p - x }.max,
        xs.length.toLong, peaks.max))
    }
    val got = Pipeline14.qDrawdown(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == expected.toMap)
    assert(got.nonEmpty)
  }

  test("pipe_release_manifest totals equal the M1 survivor set") {
    val manifest = Pipeline14.pipeReleaseManifest(tables).collect()
    val survivors = LlmQueries.pipeCleanCorpus(tables).count()
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == survivors)
    val splits = manifest.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
    manifest.foreach { r =>
      val q = r.getAs[Double]("q_avg")
      assert(q >= 0.5 && q <= 1.0, s"survivor mean quality out of range: $r")
    }
  }
}
