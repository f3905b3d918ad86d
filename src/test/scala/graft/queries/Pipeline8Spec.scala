package graft.queries

import graft.SparkSpec
import graft.operators.{Geo, HofReference, Similarity}
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
    val out = Pipeline8.simMipsTopk(spark, sfDir)
    val perQ = out.groupBy(col("query_id")).agg(
      count(lit(1)).as("n"), max(col("rank")).as("mr"))
    assert(perQ.filter(col("n") =!= 5 || col("mr") =!= 5).isEmpty)
  }

  // ---- q_dp_counts ----

  test("q_dp_counts: reproducible, non-degenerate, noise-bounded release") {
    val a = Pipeline8.qDpCounts(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Pipeline8.qDpCounts(spark, sfDir)
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
    val card = Pipeline8.pipeCorpusCard(spark, sfDir).cache()
    try {
      val docs = tables.documents
      assert(card.agg(sum(col("n_docs"))).collect()(0).getLong(0) == docs.count())
      // keep_frac per lang must equal the G22 row's keep rate.
      val gopher = Pipeline5.txGopherRules(spark, sfDir)
        .groupBy(col("lang"))
        .agg(round(sum(when(col("keep"), 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("kf"))
      val joined = card.join(gopher, Seq("lang"))
      assert(joined.filter(col("keep_frac") =!= col("kf")).isEmpty)
      // mean_flesch per lang must equal the G23 row's mean (via the
      // same fixed-point aggregation).
      val flesch = Pipeline6.txReadability(spark, sfDir)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .withColumn("fx", round(col("flesch") * lit(10000.0), 0).cast("long"))
        .groupBy(col("lang"))
        .agg(round(sum(col("fx")).cast("double") / count(lit(1)).cast("double") / 10000.0, 4)
          .as("mf"))
      val j2 = card.join(flesch, Seq("lang"))
      assert(j2.filter(col("mean_flesch") =!= col("mf")).isEmpty)
    } finally card.unpersist()
  }

  // ---- Exporter.readZOrdered / Geo.zRangesForBbox ----

  test("zRangesForBbox: cover is a superset and quadtree-tight") {
    // A small rect: every cell inside must be covered by some range.
    val ranges = Geo.zRangesForBbox(100, 140, 200, 230, maxDepth = 16)
    def covered(z: Long) = ranges.exists { case (lo, hi) => z >= lo && z <= hi }
    for (x <- 100L to 140L; y <- 200L to 230L)
      assert(covered(Geo.mortonOfCells(x, y)), s"cell ($x,$y) uncovered")
    // And nothing outside the rect at the exact depth: corners just
    // past the rect must not be covered when maxDepth=16 (exact).
    assert(!covered(Geo.mortonOfCells(99, 200)))
    assert(!covered(Geo.mortonOfCells(141, 230)))
    assert(!covered(Geo.mortonOfCells(120, 199)))
    assert(!covered(Geo.mortonOfCells(120, 231)))
  }

  test("readZOrdered: exact bbox result while opening only intersecting files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zread_")
    try {
      val pts = tables.events.select(
        col("event_id"), col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      graft.`export`.Exporter.writeZOrdered(
        pts, dir.toString, col("x"), col("y"), 0.0, 0.0, 500.0, 100.0, partitions = 8)
      val (bxLo, bxHi, byLo, byHi) = (100.0, 150.0, 20.0, 40.0)
      val got = graft.`export`.Exporter.readZOrdered(
        spark, dir.toString, "x", "y", 0.0, 0.0, 500.0, 100.0,
        bxLo, byLo, bxHi, byHi)
        .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
      val want = pts
        .filter(col("x").between(bxLo, bxHi) && col("y").between(byLo, byHi))
        .select(col("event_id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want)
      // Pruning: the bbox covers ~10% of the frame — the covering
      // z-ranges must rule out at least one of the 8 files by
      // footer min/max alone.
      val ranges = Geo.zRangesForBbox(
        Geo.quantize16(bxLo, 0.0, 500.0), Geo.quantize16(bxHi, 0.0, 500.0),
        Geo.quantize16(byLo, 0.0, 100.0), Geo.quantize16(byHi, 0.0, 100.0))
      val files = spark.read.parquet(dir.toString)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("zkey")).as("lo"), max(col("zkey")).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val touched = files.count { case (flo, fhi) =>
        ranges.exists { case (rlo, rhi) => rlo <= fhi && rhi >= flo }
      }
      assert(touched < files.length,
        s"z-range cover prunes nothing ($touched of ${files.length} files)")
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
