package graft.queries

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The 15 `st_*` registry rows run their real streaming queries on
  * sf0.001; each row's count and an order-independent content hash
  * are pinned, so a change to the shared query lifecycle cannot move
  * any row's result. A stream that fails releases what the lifecycle
  * holds: its checkpoint, its memory-sink view and the session conf.
  */
class StreamQueriesSpec extends SparkSpec {

  /** SHA-256 (first 16 hex digits) of the row set: rows rendered as
    * JSON in the session time zone, sorted.
    */
  private def contentHash(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val rows = df.select(to_json(struct(df.columns.map(col): _*))).collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(8).map(b => f"$b%02x").mkString)
  }

  /** Recorded with the per-row query lifecycle each row had before
    * the shared `StreamQueries.run` helper replaced it.
    */
  private val pinned: Map[String, (Long, String)] = Map(
    "st_anomaly_zscore" -> ((22L, "a9309bc533caa294")),
    "st_cdc_apply" -> ((12L, "5799d2ff1bc27803")),
    "st_checkpoint_resume" -> ((5L, "4aec2c0738cb6843")),
    "st_dedup_stream" -> ((15L, "4e85de49a5c875c3")),
    "st_enrich_join" -> ((4L, "8b1003ef72c1d9e7")),
    "st_foreachbatch_upsert" -> ((15L, "4e85de49a5c875c3")),
    "st_late_drop" -> ((159L, "37ea8fec15878fc4")),
    "st_progress_total" -> ((1L, "214f570cb1fe7463")),
    "st_session_agg" -> ((946L, "280b9f97b2cda924")),
    "st_sliding_window" -> ((1504L, "4b382225222a7767")),
    "st_ss_join" -> ((4L, "c367b9324f2481e6")),
    "st_ss_leftouter" -> ((15L, "befe456189352953")),
    "st_topk_windowed" -> ((858L, "13b9540b9c701952")),
    "st_update_agg" -> ((5L, "19ea0e0f64ec9ea6")),
    "st_windowed_agg" -> ((868L, "83f8ad27d0234b48")))

  test("every st_* registry row keeps its pinned count and content hash") {
    val rows = Registry.all.filter(_.name.startsWith("st_"))
    assert(rows.size == 15)
    val got = rows.map(q => q.name -> contentHash(q.fn(tables))).toMap
    val diff = got.filter { case (n, v) => !pinned.get(n).contains(v) }
    assert(diff.isEmpty, diff.toSeq.sortBy(_._1)
      .map { case (n, (c, h)) => s"""    "$n" -> (($c""" + s"""L, "$h")),""" }.mkString("\n", "\n", ""))
  }

  test("a failing stream throws, and leaves no checkpoint, sink view or active query") {
    val name = "st_spec_failing"
    val src = Files.createTempDirectory("stream-spec-src")
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.range(3).toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$src/in")
      val failing = spark.readStream.schema("id BIGINT").parquet(s"$src/in")
        .select(expr("CASE WHEN id >= 0 THEN raise_error('stream spec failure') ELSE id END").as("id"))
      spark.conf.set("spark.sql.shuffle.partitions", "3") // the stream runs under 4
      val e = intercept[StreamingQueryException] {
        StreamQueries.toMemory(spark, name, failing, "append")()
      }
      assert(e.getMessage.contains("stream spec failure"))
      val scratch = Seq(Paths.get("/dev/shm"), Paths.get(System.getProperty("java.io.tmpdir")))
        .filter(Files.isDirectory(_))
      val left = scratch.flatMap { d =>
        val ls = Files.list(d)
        try ls.iterator.asScala.map(_.getFileName.toString)
          .filter(_.startsWith(s"graft_ckpt_${name}_")).toList
        finally ls.close()
      }
      assert(left.isEmpty, left)
      assert(!spark.catalog.listTables().collect().exists(_.name.startsWith(name)))
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
      graft.util.Fs.deleteRecursively(src)
    }
  }
}
