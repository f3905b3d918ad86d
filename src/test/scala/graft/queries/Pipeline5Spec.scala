package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline5Spec extends SparkSpec {

  test("tx_gopher_rules: keep verdict equals re-derived rule conjunction") {
    val out = Pipeline5.txGopherRules(tables).cache()
    try {
      val bad = out.filter(
        col("keep") =!= (col("n_words").between(30L, 1000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("stop_hits") >= 2L && col("alpha_frac") >= 0.8))
      assert(bad.isEmpty)
      // The filter must actually split this corpus — a rule set that
      // keeps (or drops) everything tests nothing.
      val n = out.count()
      val kept = out.filter(col("keep")).count()
      assert(kept > 0 && kept < n, s"degenerate split: $kept of $n kept")
    } finally out.unpersist()
  }

  test("tx_gopher_rules: signals are in their defined ranges") {
    val out = Pipeline5.txGopherRules(tables)
    val bad = out.filter(
      col("n_words") <= 0 || col("mean_word_len") <= 0.0 ||
        col("stop_hits") < 0 || col("stop_hits") > col("n_words") ||
        col("alpha_frac") < 0.0 || col("alpha_frac") > 1.0)
    assert(bad.isEmpty)
  }

  test("sm_importance_weight: target-source docs score above the corpus on average") {
    val docs = tables.documents
    val out = Pipeline5.importanceWeight(docs, targetSource = "src0", nBuckets = 64)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .cache()
    try {
      val Array(tgtAvg, allAvg) = out
        .agg(avg(when(col("source") === "src0", col("weight"))),
          avg(col("weight")))
        .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
      // The LLR model is fit ON src0 — its own docs must score
      // higher than the corpus mean, else the weighting is noise.
      assert(tgtAvg > allAvg,
        s"target avg $tgtAvg should exceed corpus avg $allAvg")
    } finally out.unpersist()
  }

  test("sm_importance_weight: uniform target (whole corpus) scores ~0 everywhere") {
    val docs = tables.documents.limit(50)
    // With target == raw the LLR is ln-ratio of identical smoothed
    // distributions per bucket — not exactly zero because the
    // smoothing denominators differ only when totals differ; here
    // they are identical, so every weight must be exactly 0.
    val allSrc = docs.withColumn("source", lit("only"))
    val out = Pipeline5.importanceWeight(allSrc, targetSource = "only", nBuckets = 64)
    val bad = out.filter(abs(col("weight")) > 1e-9)
    assert(bad.isEmpty)
  }

  test("dd_soft_dedup: weights are 1/comp_size and component masses sum to 1") {
    val out = Pipeline5.ddSoftDedup(tables).cache()
    try {
      assert(out.count() == tables.documents.count())
      val bad = out.filter(
        abs(col("weight") - round(lit(1.0) / col("comp_size").cast("double"), 4)) > 1e-12)
      assert(bad.isEmpty)
      // Each component's total weight ≈ 1 (4-dp rounding slack ·
      // comp_size): duplicates share one document's mass.
      val mass = out.groupBy(col("component"))
        .agg(sum(col("weight")).as("m"), count(lit(1)).as("n"))
        .filter(abs(col("m") - 1.0) > col("n") * 1e-4)
      assert(mass.isEmpty)
    } finally out.unpersist()
  }

  test("dd_soft_dedup: singleton docs get weight exactly 1") {
    val out = Pipeline5.ddSoftDedup(tables)
    val bad = out.filter(col("comp_size") === 1 && col("weight") =!= 1.0)
    assert(bad.isEmpty)
    assert(!out.filter(col("comp_size") === 1).isEmpty)
  }

  test("dd_source_overlap: symmetric-free, ordered, and bounded by per-source vocabularies") {
    val docs = tables.documents
    val out = Pipeline5.sourceOverlap(docs).cache()
    try {
      assert(out.filter(col("src_a") >= col("src_b")).isEmpty)
      // n_shared can never exceed either source's distinct-bigram count.
      val vocab = docs.select(col("source"),
        explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
        .groupBy(col("source"))
        .agg(countDistinct(col("bigram")).as("nb"))
      val bad = out
        .join(vocab.withColumnRenamed("source", "src_a"), Seq("src_a"))
        .withColumnRenamed("nb", "na")
        .join(vocab.withColumnRenamed("source", "src_b"), Seq("src_b"))
        .filter(col("n_shared") > col("na") || col("n_shared") > col("nb"))
      assert(bad.isEmpty)
    } finally out.unpersist()
  }

  test("pipe_curate_corpus: counts are consistent and re-derivable from the parts") {
    val out = Pipeline5.pipeCurateCorpus(tables).cache()
    try {
      assert(out.count() == 20)
      val bad = out.filter(col("n_kept") > col("n_docs") || col("n_docs") <= 0 ||
        col("eff_tokens") < 0.0)
      assert(bad.isEmpty)
      // n_kept per source must equal the G22 row's keep counts.
      val g = Pipeline5.txGopherRules(tables)
        .join(tables.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(when(col("keep"), 1)).as("nk"))
      val mism = out.join(g, Seq("source"))
        .filter(col("n_kept") =!= col("nk"))
      assert(mism.isEmpty)
      // Effective tokens never exceed the raw kept token count.
      val rawTok = Pipeline5.txGopherRules(tables)
        .filter(col("keep"))
        .join(tables.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source")).agg(sum(col("n_words")).as("raw_tok"))
      val over = out.join(rawTok, Seq("source"))
        .filter(col("eff_tokens") > col("raw_tok").cast("double") + 1e-6)
      assert(over.isEmpty)
    } finally out.unpersist()
  }

  test("sm_importance_resample: deterministic top-k, biased toward high weights") {
    val a = Pipeline5.smImportanceResample(tables)
    val b = Pipeline5.smImportanceResample(tables)
    assert(a.count() == 100)
    assert(a.except(b).isEmpty && b.except(a).isEmpty, "rerun must reproduce the sample")
    // Gumbel-perturbed selection ∝ exp(weight): the sampled docs'
    // mean weight must exceed the corpus mean.
    val sampled = a.agg(avg(col("weight"))).collect()(0).getDouble(0)
    val corpus = Pipeline5
      .importanceWeight(tables.documents, "src0", 64)
      .agg(avg(col("weight"))).collect()(0).getDouble(0)
    assert(sampled > corpus, s"sample avg $sampled should exceed corpus avg $corpus")
  }

  test("src_orc_read: ORC round trip reproduces the parquet aggregate exactly") {
    val viaOrc = graft.queries.SourceQueries.srcOrcRead(tables)
    val direct = tables.events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    assert(viaOrc.except(direct).isEmpty && direct.except(viaOrc).isEmpty)
  }

  test("dd_source_overlap: agrees with a direct distinct-intersection count on a pair") {
    val docs = tables.documents
    val bg = docs.select(col("source"),
      explode(graft.functions.WordBigrams(col("text"))).as("bigram")).distinct()
    val direct = bg.filter(col("source") === "src0").select(col("bigram"))
      .intersect(bg.filter(col("source") === "src1").select(col("bigram")))
      .count()
    val viaOp = Pipeline5.sourceOverlap(docs)
      .filter(col("src_a") === "src0" && col("src_b") === "src1")
      .select(col("n_shared")).collect()
    val got = if (viaOp.isEmpty) 0L else viaOp(0).getLong(0)
    assert(got == direct)
  }
}
