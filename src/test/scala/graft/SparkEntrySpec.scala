package graft

import graft.queries.QueryDef
import org.apache.spark.sql.DataFrame

/** The registry mains' shared row picker and runner. */
class SparkEntrySpec extends SparkSpec {

  private def row(name: String)(fn: Tables => DataFrame) = QueryDef(name, fn, None)

  test("select: all rows in registry order, or the named rows in the given order, each once") {
    assert(SparkEntry.select(Nil) == graft.queries.Registry.all)
    val names = SparkEntry.select(Seq("src_limit", "q1_pricing", "src_limit", "tr_reproject")).map(_.name)
    assert(names == Seq("src_limit", "q1_pricing", "tr_reproject"))
  }

  test("select: every unknown name is reported in one IllegalArgumentException") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("src_limit", "no_such_a", "no_such_b"))
    }
    assert(e.getMessage.contains("no_such_a") && e.getMessage.contains("no_such_b"))
    assert(!e.getMessage.contains("src_limit"))
  }

  test("runEach records a failed row's cause and runs the rows after it") {
    val ran = scala.collection.mutable.Buffer.empty[String]
    val rows = Seq(
      row("ok_a")(t => t.spark.range(2).toDF()),
      row("bad")(_ => throw new IllegalStateException("boom\nsecond line")),
      row("ok_b")(t => t.spark.range(3).toDF()))
    val failed = SparkEntry.runEach(spark, rows) { q =>
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == q.name)
      q.fn(tables).count()
      ran += q.name
    }
    assert(ran == Seq("ok_a", "ok_b"))
    assert(failed.map(_._1.name) == Seq("bad"))
    assert(SparkEntry.cause(failed.head._2) == "java.lang.IllegalStateException: boom")
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("runEach lets a fatal error through after clearing the job group") {
    val ran = scala.collection.mutable.Buffer.empty[String]
    val rows = Seq(row("fatal")(t => t.spark.range(1).toDF()), row("after")(t => t.spark.range(1).toDF()))
    intercept[LinkageError] {
      SparkEntry.runEach(spark, rows) { q =>
        ran += q.name
        if (q.name == "fatal") throw new LinkageError("fatal")
      }
    }
    assert(ran == Seq("fatal"))
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("cause is the class name alone when there is no message") {
    assert(SparkEntry.cause(new RuntimeException) == "java.lang.RuntimeException")
  }
}
