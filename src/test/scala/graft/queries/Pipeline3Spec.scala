package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline3Spec extends SparkSpec {
  import spark.implicits._

  test("bm25 returns top-k with non-increasing scores and distinct docs") {
    val rows = Pipeline3.txBm25(tables).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val scores = rows.map(_.getDouble(1))
    scores.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
      assert(a >= b, s"scores must be non-increasing: $a then $b")
    }
    assert(scores.head > 0.0)
  }

  test("bm25 ranks a query-term-dense doc above a sparse one") {
    val fixture = Seq(
      (1L, "spark join window stream spark join"),
      (2L, "spark alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps
      .bm25TopK(fixture, "text", "doc_id", Pipeline3.Bm25Terms, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).take(2).toSeq == Seq(1L, 2L))
    // A doc with none of the query terms scores exactly zero.
    assert(got.find(_._1 == 3L).forall(_._2 == 0.0))
  }

  test("bm25 plan is map-only per doc: no doc-keyed exchange, stats broadcast") {
    val plan = Pipeline3.txBm25(tables).queryExecution.executedPlan.toString
    val shuffles = "Exchange".r.findAllIn(plan).length -
      "ReusedExchange".r.findAllIn(plan).length -
      "BroadcastExchange".r.findAllIn(plan).length
    // The only non-broadcast exchange is the 1-row stats reduction
    // (plus the TakeOrdered singlePartition move).
    assert(shuffles <= 2, s"bm25 should not shuffle corpus rows:\n$plan")
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"bm25 must not shuffle on doc_id:\n$plan")
  }

  test("dup-ngram fraction: full-dup pair scores 1.0, unique doc 0.0, short doc degrades") {
    val fixture = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w"),
      (4L, "x y z") // < 5 tokens: zero 5-grams
    ).toDF("doc_id", "text")
    val got = Pipeline3.dupNgramFrac(fixture)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((4L, 4L, 1.0)) && got(2L) == ((4L, 4L, 1.0)))
    assert(got(3L) == ((4L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("dup-ngram fraction over sf fixture is bounded and consistent") {
    val rows = Pipeline3.txDupNgramFrac(tables).collect()
    assert(rows.length == tables.documents.count())
    rows.foreach { r =>
      val (n, dup, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dup <= n)
      assert(frac >= 0.0 && frac <= 1.0)
      if (n == 0) assert(frac == 0.0)
    }
  }

  test("hybrid rrf fuses bounded candidate lists; two-list docs beat equal-rank one-list docs") {
    val rows = Pipeline3.simHybridRrf(tables).collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getDouble(1))
    scores.sliding(2).filter(_.length == 2).foreach { case Array(a, b) => assert(a >= b) }
    // Every fused score decomposes into the rank contributions it claims.
    rows.foreach { r =>
      val (rrf, rl, rv) = (r.getDouble(1), r.getLong(2), r.getLong(3))
      def c(x: Long) = if (x == 0) 0.0 else 1.0 / (60.0 + x)
      assert(math.abs(rrf - BigDecimal(c(rl) + c(rv)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(rl >= 0 && rv >= 0 && (rl > 0 || rv > 0))
    }
    // rrfFuse semantics on a fixture: present-in-both at rank 2
    // outranks present-in-one at rank 1 (1/62+1/62 > 1/61).
    val lex = Seq((1L, 2L), (2L, 1L)).toDF("id", "r_lex")
    val vec = Seq((1L, 2L), (3L, 1L)).toDF("id", "r_vec")
    val fused = graft.operators.Similarity.rrfFuse(lex, vec, k = 3).collect()
    assert(fused.head.getLong(0) == 1L)
  }

  test("curriculum stages honor thresholds and the order key is the shared LCG") {
    val rows = Pipeline3.smCurriculum(tables).collect()
    assert(rows.length == tables.documents.count())
    rows.foreach { r =>
      val (id, n, stage, ord) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val want = if (n < 32) 1 else if (n < 56) 2 else if (n < 76) 3 else 4
      assert(stage == want, s"doc $id: n_tokens=$n stage=$stage want=$want")
      val p = 1000000007L
      assert(ord == ((id % p) * 2654435761L + 1013904223L) % p)
    }
    assert(rows.map(_.getLong(2)).distinct.sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("curriculum plan is map-only: zero exchanges") {
    val plan = Pipeline3.smCurriculum(tables).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"curriculum must be map-only:\n$plan")
  }
}
