package graft.sources

import graft.SparkSpec
import graft.queries.SourceQueries
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** A13: the hive-partitioned read must prune non-matching partition
  * directories at PLANNING time — the scan's selectedPartitions is
  * the proof (no data-file IO for pruned values), not just a
  * post-scan filter that happens to drop the rows.
  */
class HivePartitionSpec extends SparkSpec {
  import spark.implicits._

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))

  test("partition filter prunes directories at planning time") {
    val stage = java.nio.file.Files.createTempDirectory("graft_hive_spec_")
    try {
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "a", 4.0))
        .toDF("id", "k", "v")
        .write.partitionBy("k").parquet(stage.toString + "/t")
      val pruned = OvertureReader.readHivePartitioned(
        spark, stage.toString + "/t", Some("k = 'a'"))
      val scan = scanOf(pruned)
      // Planning-time pruning: only k=a's directory survives out of 3.
      assert(scan.selectedPartitions.partitionCount == 1)
      assert(scan.metadata("PartitionFilters").contains("k"))
      assert(pruned.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
      val full = scanOf(OvertureReader.readHivePartitioned(spark, stage.toString + "/t"))
      assert(full.selectedPartitions.partitionCount == 3)
    } finally {
      val s = java.nio.file.Files.walk(stage)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }

  test("registered query reads only the two filtered event types") {
    val df = SourceQueries.srcHivePartitioned(tables)
    val scan = scanOf(df)
    assert(scan.selectedPartitions.partitionCount == 2) // of 5 event types
    val types = df.select("event_type").distinct()
      .as[String].collect().sorted.toSeq
    assert(types == Seq("click", "error"))
  }
}
