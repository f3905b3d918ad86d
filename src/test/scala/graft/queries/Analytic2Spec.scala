package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Analytic2Spec extends SparkSpec {

  test("salted aggregation equals direct aggregation") {
    val direct = tables.events.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Analytic2.qSaltedAgg(tables)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
  }

  test("rollup emits subtotal and grand-total rows") {
    val rows = Analytic2.qRollup(tables).collect()
    assert(rows.count(r => r.isNullAt(0) && r.isNullAt(1)) == 1) // grand total
    assert(rows.exists(r => !r.isNullAt(0) && r.isNullAt(1)))    // region subtotal
  }

  test("approx vocabulary within 5% of exact distinct count") {
    // independent exact count; the registry row (r10 invariant shape)
    // must agree on it and gate the HLL estimate in-plan
    val exact = tables.documents
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy("source").agg(countDistinct("tok").as("exact"))
    val row = LlmQueries.txVocabApprox(tables)
    val joined = exact.join(row, "source")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(joined.nonEmpty)
    joined.foreach { case (e, n, ok) =>
      assert(n == e, s"exact=$e row=$n")
      assert(ok == 1L, s"HLL bound violated for exact=$e")
    }
  }

  test("pivot fills absent combinations with zero") {
    val df = Analytic2.qPivot(tables)
    assert(df.columns.toSeq == Seq("bucket", "click", "view", "purchase", "signup", "error"))
    assert(df.filter(col("click").isNull).count() == 0)
  }
}
