package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.queries.QueryDef
import graft.util.StageMetricsListener
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** The sweep's scoring and its BENCH_FULL.json / totals shape. */
class BenchSpec extends SparkSpec {

  private def row(name: String)(fn: Tables => DataFrame) = QueryDef(name, fn, None)

  test("a failed row scores -1 and carries its cause; the other rows are timed") {
    var calls = 0
    val rows = Seq(
      row("ok")(t => t.spark.range(5).toDF()),
      row("bad")(_ => throw new IllegalStateException("boom\ntrace")),
      row("bad_second")(t => {
        calls += 1
        if (calls == 2) throw new IllegalArgumentException("second run") else t.spark.range(1).toDF()
      }))
    val scores = Bench.score(spark, rows, sfDir, new StageMetricsListener)
    assert(scores.map(_.name) == Seq("ok", "bad", "bad_second"))
    val byName = scores.map(s => s.name -> s).toMap
    assert(byName("ok").cold > 0 && byName("ok").steady > 0 && byName("ok").error.isEmpty)
    assert(byName("bad") == Bench.Score("bad", -1, -1, Some("java.lang.IllegalStateException: boom")))
    assert(byName("bad_second").cold > 0 && byName("bad_second").steady == -1)
    assert(byName("bad_second").error.contains("java.lang.IllegalArgumentException: second run"))

    val full = new ObjectMapper().readTree(Bench.fullJson(scores, "/data/sf", 4))
    assert(full.get("n_queries").asInt == 3 && full.get("n_failed").asInt == 2)
    assert(full.get("cpus").asInt == 4 && full.get("sf").asText == "/data/sf")
    val bad = full.get("queries").get("bad")
    assert(bad.get("cold").asInt == -1 && bad.get("steady").asInt == -1)
    assert(bad.get("error").asText == "java.lang.IllegalStateException: boom")
    assert(!full.get("queries").get("ok").has("error"))
  }

  test("a row that stages through SessionStage builds its artifact in every timed run") {
    var builds = 0
    val staged = row("staged")(t => {
      graft.util.SessionStage.dir(t, "bench_spec_staged")(_ => builds += 1)
      t.spark.range(1).toDF()
    })
    val Seq(score) = Bench.score(spark, Seq(staged), sfDir, new StageMetricsListener)
    assert(score.error.isEmpty && builds == 2)
    // each run's session is released: no staged dir outlives its run
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val left = java.nio.file.Files.list(tmp)
    try assert(!left.iterator.asScala.exists(_.getFileName.toString.startsWith("graft_bench_spec_staged_")))
    finally left.close()
  }

  test("the totals fields keep their keys and order") {
    val t = Bench.totals(Seq(
      Bench.Score("a", 2.0, 1.5, None),
      Bench.Score("b", -1, -1, Some("x"))))
    assert(t == """"metric":"total","value":1.5000,"value_cold":2.0000,"unit":"sec","n_queries":2,"n_failed":1""")
  }
}
