package graft.queries

import graft.SparkSpec
import graft.operators.{Dedup, Graph, Similarity}
import org.apache.spark.sql.functions._

class Pipeline9Spec extends SparkSpec {

  // ---- q_pagerank / Graph.pageRank ----

  /** Driver-side reference replay of the exact integer recurrence —
    * an independent implementation the DataFrame one must match
    * bit-for-bit.
    */
  private def refPageRank(
      edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toLong
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val base = ((Graph.RankFx * 15L) / 100L) / n
    var r = nodes.map(_ -> Graph.RankFx / n).toMap
    for (_ <- 1 to iters) {
      val sums = edges
        .groupBy(_._2)
        .map { case (d, es) =>
          d -> es.map(e => (r(e._1) * e._3) / outW(e._1)).sum
        }
      val dang = nodes.filterNot(outW.contains).map(r).sum
      r = nodes.map(v =>
        v -> (base + (85L * (sums.getOrElse(v, 0L) + dang / n)) / 100L)).toMap
    }
    r
  }

  test("Graph.pageRank matches the driver-side integer recurrence bit-for-bit") {
    import spark.implicits._
    // 4 nodes, node 4 dangling (no out-edges), weighted, with a
    // self-loop — every structural case at once.
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L),
      (3L, 1L, 5L), (3L, 4L, 5L), (2L, 2L, 1L))
    val got = Graph
      .pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters = 5)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(got == refPageRank(edges, 5))
  }

  test("Graph.pageRank conserves total rank mass up to truncation slack") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 2L))
    val ranks = Graph
      .pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters = 5)
      .collect().map(_.getLong(1))
    val total = ranks.sum
    // Each truncating division loses < 1 ulp per node per term;
    // 5 iterations × 4 nodes × a handful of divisions ≪ 1000.
    assert(total <= Graph.RankFx && total > Graph.RankFx - 1000L,
      s"rank mass $total drifted from ${Graph.RankFx}")
    assert(ranks.forall(_ > 0))
  }

  test("q_pagerank: nation ranks are positive, complete, and mass-conserving") {
    val out = Pipeline9.qPagerank(tables).collect()
    assert(out.length > 5, "trade graph should cover most nations")
    assert(out.map(_.getString(0)).distinct.length == out.length)
    val total = out.map(_.getLong(1)).sum
    assert(math.abs(total - Graph.RankFx) < 100000L,
      s"rank mass $total too far from ${Graph.RankFx}")
    assert(out.forall(_.getLong(1) > 0))
  }

  // ---- sim_rp_project / Similarity.randomProjectFx ----

  test("randomProjectFx HOF path equals the exploded registry formulation") {
    val viaHof = tables.embeddings.filter(col("vec_id") < 20)
      .select(col("vec_id"),
        posexplode(Similarity.randomProjectFx(col("embedding"), 8))
          .as(Seq("dim", "proj_fx")))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
    val viaQuery = Pipeline9.simRpProject(tables)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaHof == viaQuery)
  }

  test("sim_rp_project: JL distance distortion is bounded on real vector pairs") {
    val vecs = tables.embeddings.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    val projRows = Pipeline9.simRpProject(tables).collect()
    val proj = projRows.groupBy(_.getLong(0)).map { case (id, rows) =>
      id -> rows.sortBy(_.getLong(1)).map(_.getLong(2).toDouble / 1e6)
    }
    val ids = vecs.keys.toSeq.sorted
    val distortions = for {
      i <- ids; j <- ids if i < j
      d2 = vecs(i).zip(vecs(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      if d2 > 1e-9
      p2 = proj(i).zip(proj(j)).map { case (a, b) => (a - b) * (a - b) }.sum
    } yield p2 / (8.0 * d2)
    assert(distortions.nonEmpty)
    val sortedD = distortions.sorted
    val median = sortedD(sortedD.size / 2)
    // E[distortion] = 1 for a ±1 JL matrix; 8 output dims give loose
    // but real concentration.
    assert(median > 0.3 && median < 3.0,
      s"median JL distortion $median outside [0.3, 3.0]")
  }

  // ---- q_change_detect ----

  test("q_change_detect: full driver-side recomputation matches") {
    val daily = tables.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * lit(10000.0), 0).cast("long")).as("v_fx"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
    val expected = daily.groupBy(_._1).flatMap { case (et, rows) =>
      val s = rows.sortBy(_._2)
      val shifts = for {
        idx <- s.indices
        if idx >= 7 && idx + 6 < s.length
        pre = s.slice(idx - 7, idx)
        post = s.slice(idx, idx + 7)
      } yield (s(idx)._2,
        BigDecimal(post.map(_._3).sum.toDouble / post.map(_._4).sum / 10000.0
          - pre.map(_._3).sum.toDouble / pre.map(_._4).sum / 10000.0)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      shifts.sortBy { case (day, sh) => (-math.abs(sh), day) }
        .take(3).zipWithIndex
        .map { case ((day, sh), i) => (et, day, sh, i + 1L) }
    }.toSet
    val got = Pipeline9.qChangeDetect(tables).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == expected)
  }

  // ---- Dedup.incrementalNearDup ----

  private def mkDocs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("incrementalNearDup: store-win, intra-batch survivor, idempotence, store contents") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-inc-dedup").toString + "/sigs"
    // Varied words — repeated text collapses to few DISTINCT
    // shingles and sinks Jaccard below threshold.
    val baseText = (1 to 60).map(i => s"tok$i").mkString(" ")
    val batch1 = mkDocs(Seq(
      10L -> baseText,
      11L -> (baseText + "with one extra tail phrase"), // near-dup of 10
      12L -> "a completely different document about spark partition planning and shuffle exchanges in distributed query engines",
      13L -> "tiny doc" // < 3 tokens: kept, not stored
    ))
    val kept1 = Dedup.incrementalNearDup(batch1, "text", "doc_id", store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 == Set(10L, 12L, 13L),
      s"batch1 survivors: component min + unique + short doc, got $kept1")
    val stored1 = spark.read.parquet(store).collect().map(_.getLong(0)).toSet
    assert(stored1 == Set(10L, 12L), "store = survivors minus empty-shingle docs")

    // Re-applying the same shingle-able docs drops them all (store
    // wins); the short doc passes again by design.
    val again = Dedup.incrementalNearDup(batch1, "text", "doc_id", store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == Set(13L), s"idempotent re-apply, got $again")
    assert(spark.read.parquet(store).collect().map(_.getLong(0)).toSet
      == Set(10L, 12L), "re-apply must not grow the store")

    // Batch 2: one near-dup of a stored doc, one novel doc.
    val batch2 = mkDocs(Seq(
      20L -> (baseText + "trailing variation"),
      21L -> "entirely novel content mentioning catalyst expressions and tungsten code generation for columnar execution"
    ))
    val kept2 = Dedup.incrementalNearDup(batch2, "text", "doc_id", store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(21L), s"store near-dup must drop, novel must keep: $kept2")
    assert(spark.read.parquet(store).collect().map(_.getLong(0)).toSet
      == Set(10L, 12L, 21L))
  }

  test("incrementalNearDup: first batch against a missing store keeps unique docs") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-inc-dedup2").toString + "/sigs"
    val docs = mkDocs(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten eleven twelve"))
    val kept = Dedup.incrementalNearDup(docs, "text", "doc_id", store)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    assert(spark.read.parquet(store).count() == 2)
  }
}
