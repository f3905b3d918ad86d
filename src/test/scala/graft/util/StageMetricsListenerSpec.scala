package graft.util

import graft.SparkSpec

class StageMetricsListenerSpec extends SparkSpec {

  test("job-group attribution folds task metrics per query") {
    val l = new StageMetricsListener
    spark.sparkContext.addSparkListener(l)
    try {
      l.registerGroup("smls_q1")
      spark.sparkContext.setJobGroup("smls_q1", "smls_q1", interruptOnCancel = false)
      // A groupBy forces a shuffle so shuffle bytes are nonzero.
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
      spark.sparkContext.clearJobGroup()

      l.registerGroup("smls_q2")
      spark.sparkContext.setJobGroup("smls_q2", "smls_q2", interruptOnCancel = false)
      spark.read.parquet(s"$sfDir/region.parquet").count()
      spark.sparkContext.clearJobGroup()

      // Listener-bus delivery is async: every task-end event is posted
      // before its job returns, so drain the bus before reading.
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)

      val snap = l.snapshot()
      assert(snap.contains("smls_q1"), s"groups seen: ${snap.keySet}")
      assert(snap.contains("smls_q2"))
      val q1 = snap("smls_q1")
      assert(q1.jobs >= 1)
      assert(q1.stages >= 2, "groupBy query should have map+reduce stages")
      assert(q1.tasks >= 2)
      assert(q1.inputBytes > 0, "parquet scan bytes should be attributed")
      assert(q1.shuffleWriteBytes > 0, "groupBy should shuffle nonzero bytes")
      assert(q1.taskTimeMs >= 0)

      val q2 = snap("smls_q2")
      assert(q2.jobs >= 1 && q2.inputBytes > 0)
      // Metrics must not bleed between groups: region.parquet is tiny,
      // a lineitem-sized input here would mean misattribution.
      assert(q2.inputBytes < q1.inputBytes)

      // A job under an UNREGISTERED group (streaming queries replace
      // the group with their run-id UUID) folds into the latest
      // registered query instead of scattering across opaque keys.
      val q2Jobs = snap("smls_q2").jobs
      spark.sparkContext.setJobGroup("run-id-uuid-not-registered", "x", interruptOnCancel = false)
      spark.read.parquet(s"$sfDir/region.parquet").count()
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      assert(!l.snapshot().contains("run-id-uuid-not-registered"))
      assert(l.snapshot()("smls_q2").jobs > q2Jobs)

      val json = l.toJson
      assert(json.contains("\"smls_q1\":{"))
      assert(json.contains("\"shuffle_write_bytes\":"))
      // Parses as one JSON object per group (sanity: balanced braces).
      assert(json.startsWith("{") && json.endsWith("}"))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
