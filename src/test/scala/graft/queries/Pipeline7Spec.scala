package graft.queries

import graft.SparkSpec
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class Pipeline7Spec extends SparkSpec {

  // mm_phash_neardup moved to Pipeline72 (+ Pipeline72Spec): the
  // hash is the REAL DCT perceptual hash as of round 11.

  // ---- tx_bpe_pair_stats ----

  test("tx_bpe_pair_stats: 50 distinct pairs, counts non-increasing, top pair verified") {
    val out = Pipeline7.txBpePairStats(tables).collect()
    assert(out.length == 50)
    assert(out.map(_.getString(0)).distinct.length == 50)
    val counts = out.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    // Recount the champion pair directly from the text.
    val top = out(0).getString(0)
    val esc = java.util.regex.Pattern.quote(top)
    val recount = tables.documents
      .select(((length(col("text")) -
        length(regexp_replace(col("text"), esc, ""))) / top.length).cast("long").as("k"))
      .agg(sum(col("k"))).collect()(0).getLong(0)
    // Overlapping occurrences ("aaa" has 2 adjacent "aa" pairs but
    // regexp-removal counts 1) make recount a LOWER bound; for a
    // non-self-overlapping top pair they are equal.
    assert(recount <= out(0).getLong(1))
    assert(recount * 2 >= out(0).getLong(1),
      s"champion '$top' count ${out(0).getLong(1)} vs direct recount $recount")
  }

  test("CharPairs equals the HOF transform/substr formulation") {
    val hof = tables.documents.filter(length(col("text")) >= 2)
      .select(col("doc_id"), transform(
        sequence(lit(1), length(col("text")) - 1),
        i => col("text").substr(i, lit(2))).as("pairs"))
    val native = tables.documents.filter(length(col("text")) >= 2)
      .select(col("doc_id"), graft.functions.CharPairs(col("text")).as("pairs"))
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("CharPairCounts equals CharPairs exploded-and-counted") {
    val docs = tables.documents.filter(length(col("text")) >= 2)
    val viaPairs = docs
      .select(col("doc_id"), explode(graft.functions.CharPairs(col("text"))).as("pair"))
      .groupBy(col("doc_id"), col("pair")).agg(count(lit(1)).as("n"))
    val viaCounts = docs
      .select(col("doc_id"), explode(graft.functions.CharPairCounts(col("text"))).as("pc"))
      .select(col("doc_id"), col("pc.pair").as("pair"), col("pc.n").as("n"))
    assert(viaCounts.exceptAll(viaPairs).isEmpty && viaPairs.exceptAll(viaCounts).isEmpty)
  }

  // ---- q_skew_report ----

  test("q_skew_report: the engineered hot key reads as skewed, natural keys as uniform") {
    val rows = Pipeline7.qSkewReport(tables).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("l_partkey", "l_suppkey", "hot_key"))
    val part = rows("l_partkey")
    val hot = rows("hot_key")
    // Same table: total row mass identical across candidates.
    assert(rows.values.map(_.getAs[Long]("n_rows")).toSet.size == 1)
    assert(hot.getAs[Double]("cv") > 2 * part.getAs[Double]("cv"),
      s"hot cv ${hot.getAs[Double]("cv")} vs part cv ${part.getAs[Double]("cv")}")
    assert(hot.getAs[Double]("top1_frac") > part.getAs[Double]("top1_frac"))
    assert(hot.getAs[Double]("p99_n") > part.getAs[Double]("p99_n"))
  }

  // ---- st_cdc_apply ----

  test("st_cdc_apply: converges to latest-wins state with tombstones dropped") {
    val out = StreamQueries.stCdcApply(tables)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      tables.events
        .select(col("user_id"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
          col("value"), col("ts"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") === "U")
        .select(col("user_id"), round(col("value"), 4).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(out == expected)
    val allUsers = tables.events.select(countDistinct(col("user_id")))
      .collect()(0).getLong(0)
    assert(out.size < allUsers,
      "no user ends on a tombstone — the delete path is untested")
  }
}
