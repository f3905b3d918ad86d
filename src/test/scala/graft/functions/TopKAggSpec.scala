package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("keeps k best with deterministic tie-break (ord desc, payload asc)") {
    val df = Seq(
      ("g", 5.0, 10L), ("g", 5.0, 9L), ("g", 7.0, 1L), ("g", 1.0, 2L), ("g", 7.0, 8L))
      .toDF("k", "v", "id")
    val out = df.groupBy("k").agg(TopKAgg(col("v"), col("id"), 3).as("top"))
      .select(explode(col("top"))).select("col.ord", "col.payload")
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(out.toSeq == Seq((7.0, 1L), (7.0, 8L), (5.0, 9L)))
  }

  test("group smaller than k returns all rows sorted") {
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 2L)).toDF("k", "v", "id")
    val out = df.groupBy("k").agg(TopKAgg(col("v"), col("id"), 5).as("top"))
      .select(size(col("top"))).head().getInt(0)
    assert(out == 2)
  }

  test("heap aggregate equals window top-N on real data across many partitions") {
    val windowed = graft.queries.Analytic.qTopnWindow(tables)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val heaped = graft.queries.Analytic2.qTopnHeap(tables)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(heaped == windowed && heaped.nonEmpty)
  }
}
