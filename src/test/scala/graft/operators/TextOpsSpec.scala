package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount counts whitespace-separated tokens") {
    val df = Seq("one two  three", " padded ", "single").toDF("t")
    val out = df.select(TextOps.tokenCount(col("t"))).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(3L, 1L, 1L))
  }

  test("punct and upper counts") {
    val df = Seq("Hello, World! OK;").toDF("t")
    val r = df.select(TextOps.punctCount(col("t")), TextOps.upperCount(col("t"))).head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 4) // H W O K
  }

  test("qualityScore is bounded in [0,1] on real docs") {
    val scores = tables.documents
      .select(TextOps.qualityScore(col("text")).as("q")).collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat and the dog in the house",   // en
      "der hund und die katze ist nicht da", // de
      "xyzzy qwerty plugh").toDF("t")        // none -> und
    val out = df.select(TextOps.langId(col("t"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "de", "und"))
  }

  test("redact scrubs emails and digit runs") {
    val df = Seq("contact jane.doe+x@example.org or call 555 0199 ext 42").toDF("t")
    val out = df.select(TextOps.redact(col("t"))).head().getString(0)
    assert(out == "contact <EMAIL> or call <NUM> <NUM> ext <NUM>")
  }

  test("charEntropy: uniform alphabet gives ln(k), single char gives 0") {
    val df = Seq("abcd", "aaaa", "aabb").toDF("t")
    val out = df.select(TextOps.charEntropy(col("t")), TextOps.charAlphabet(col("t")))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    assert(math.abs(out(0)._1 - math.log(4)) < 1e-12 && out(0)._2 == 4L)
    assert(out(1)._1 == 0.0 && out(1)._2 == 1L)
    assert(math.abs(out(2)._1 - math.log(2)) < 1e-12 && out(2)._2 == 2L)
  }

  test("fingerprint is deterministic and whitespace-normalized") {
    val df = Seq(("a", "Hello  World"), ("b", "hello world"), ("c", "different")).toDF("id", "t")
    val fp = df.select(col("id"), TextOps.fingerprint(col("t")).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("a") == fp("b")) // case/whitespace insensitive
    assert(fp("a") != fp("c"))
  }

  test("code detection separates a real snippet from prose") {
    import graft.queries.LlmQueries
    val docs = Seq(
      (1L, "def main(): x = compute(); return x if x else fallback(); " +
        "for i in range(10): import sys; while (a < b) { a = a + 1; }"),
      (2L, "the gentle river wound through the valley as morning light " +
        "touched the hills and the travellers walked on in easy silence")
    ).toDF("doc_id", "text")
    // run the query body against a temp dir layout? simpler: replicate
    // the expression through a select on the fixture frame
    val out = docs.select(col("doc_id"),
        (length(regexp_replace(col("text"), "[^{}()\\[\\];=<>]", "")).cast("double")
          / length(col("text")) > 0.02 &&
          size(regexp_extract_all(col("text"),
            lit("\\b(def|class|import|return|function|var|const|if|else|for|while)\\b"),
            lit(0))) >= 2).as("is_code"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L) && !out(2L))
    // registered query shape sanity on the real table
    val rows = LlmQueries.txCodeDetect(tables).limit(5).collect()
    assert(rows.forall(r => r.getLong(1) <= r.getLong(2)))
  }

  test("CMS unigram logprob: never below exact, within the eps*N overcount bound") {
    val docs = tables.documents
    val exact = TextOps.unigramLogprob(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sketch = TextOps.unigramLogprobSketch(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sketch.keySet == exact.keySet)
    // One-sided error: CMS never undercounts a term, so every
    // estimated mean ln P >= the exact one (4-dp rounding slack).
    exact.foreach { case (doc, e) =>
      assert(sketch(doc) >= e - 1e-4, s"doc $doc sketch ${sketch(doc)} < exact $e")
    }
    // Direct counter check: estimate in [exact, exact + eps*N] for
    // every term of a sample doc (generous: bound holds per-term at
    // 99% confidence; eps*N at sf0.001 is small in absolute terms).
    import org.apache.spark.util.sketch.CountMinSketch
    val terms = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
    val th = terms.select(xxhash64(col("t")).as("th"))
    val cms = th.stat.countMinSketch("th", 1e-4, 0.99, 42)
    val n = cms.totalCount()
    val exactCounts = th.groupBy("th").count().limit(50).collect()
    exactCounts.foreach { r =>
      val est = cms.estimateCount(r.getLong(0))
      assert(est >= r.getLong(1), "CMS undercounted")
      assert(est <= r.getLong(1) + math.max(1L, (3 * 1e-4 * n).toLong),
        s"CMS overcount beyond 3*eps*N: $est vs ${r.getLong(1)}")
    }
  }

  test("LM/TF-IDF vocab tables are never FORCE-broadcast (100-TB OOM guard)") {
    // With the auto-broadcast threshold off, the only BroadcastExchange
    // nodes allowed are the intentional 1-row `total` hints. If a
    // broadcast() hint crept back onto freq/probs/df, these counts
    // would rise and the plan would OOM at web-scale vocabularies.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def nBroadcast(df: org.apache.spark.sql.DataFrame): Int = {
        val plan = df.queryExecution.executedPlan.toString
        "BroadcastExchange".r.findAllIn(plan).length
      }
      val docs = tables.documents
      assert(nBroadcast(TextOps.unigramLogprob(docs, "text", "doc_id")) <= 1) // n_total only
      assert(nBroadcast(TextOps.bigramLogprob(docs, "text", "doc_id")) == 0)
      assert(nBroadcast(TextOps.tfIdfTopK(docs, "text", "doc_id", 5)) <= 1)  // n_docs only
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
