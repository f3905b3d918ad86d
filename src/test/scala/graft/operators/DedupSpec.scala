package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals and codegen"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts with deterministic survivor") {
    val out = Dedup.exact(corpus, "text", "doc_id").collect()
    val dupGroup = out.find(_.getLong(2) == 2L)
    assert(dupGroup.isDefined && dupGroup.get.getLong(1) == 1L) // min id survives
    assert(out.length == 4) // 5 docs, one pair merged
  }

  test("ngramJaccard finds near-duplicates, not unrelated docs") {
    val pairs = Dedup.ngramJaccard(corpus, "text", "doc_id", n = 3, threshold = 0.5, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containmentPairs catches a quoted inclusion that Jaccard misses") {
    val quoted = Seq(
      (1L, "alpha beta gamma delta epsilon"), // 5 tokens, fully quoted in 2
      (2L, "intro sentence first alpha beta gamma delta epsilon then lots of " +
        "additional commentary follows with many extra words stretching the " +
        "document so the shingle union dwarfs the quoted span entirely"),
      (3L, "entirely different text about nothing shared here at all")
    ).toDF("doc_id", "text")
    val contained = Dedup.containmentPairs(quoted, "text", "doc_id",
      n = 3, threshold = 0.8, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 1's 3 shingles all appear in doc 2 → containment 1.0
    assert(contained.toSeq == Seq((1L, 2L, 1.0)))
    // the symmetric metric hides the same pair at any useful threshold
    val jacc = Dedup.ngramJaccard(quoted, "text", "doc_id",
      n = 3, threshold = 0.5, maxDocFreq = 10).collect()
    assert(jacc.isEmpty, "Jaccard should NOT surface the asymmetric inclusion")
  }

  test("minhashLsh surfaces near-dup candidates with high estimated jaccard") {
    val out = Dedup.minhashLsh(corpus, "text", "doc_id").collect()
    val exactPair = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L)
    assert(exactPair.isDefined && exactPair.get.getDouble(2) == 1.0)
    val nearPair = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(nearPair.isDefined && nearPair.get.getDouble(2) > 0.5)
  }

  test("minhashLsh plan regression: at most ONE data shuffle (the band-bucket exchange)") {
    val plan = Dedup.minhashLsh(corpus, "text", "doc_id")
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange".r.findAllIn(plan).length -
      "ReusedExchange".r.findAllIn(plan).length -
      "BroadcastExchange".r.findAllIn(plan).length
    assert(shuffles <= 1, s"expected <=1 data shuffle, plan:\n$plan")
  }

  test("minhash signature is stable across evaluations") {
    val a = corpus.select(Dedup.minhashSignature(col("text"), 3, 16, 42L).as("s"))
      .collect().map(_.getSeq[Long](0))
    val b = corpus.select(Dedup.minhashSignature(col("text"), 3, 16, 42L).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(a.toSeq == b.toSeq)
  }

  test("native MinHashSig matches the HOF formulation on normal, short, empty, and messy docs") {
    val mixed = corpus.union(Seq(
      (10L, ""), (11L, "one"), (12L, "  Tabs\tand\nNEWLINES  mixed \t spacing today "),
      (13L, "répétition unicode çà et là répétition unicode çà encore une fois")
    ).toDF("doc_id", "text"))
    val hof = mixed.select($"doc_id",
      Dedup.minhashFromHashes(Dedup.shingleHashes(col("text"), 3), 32, 42L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val native = mixed.select($"doc_id",
      graft.functions.MinHashSig(col("text"), 3, 32, 42L).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(hof == native)
  }

  test("native NgramXxHashes matches the HOF transform∘shingles∘xxhash64 formulation") {
    val mixed = corpus.union(Seq(
      (10L, ""), (11L, "one two"), (12L, "  Tabs\tand\nNEWLINES  mixed \t spacing today "),
      (13L, "répétition unicode çà et là répétition unicode çà et là encore"),
      (14L, "a b a b a b a b") // heavy in-doc duplication
    ).toDF("doc_id", "text"))
    for (n <- Seq(3, 5)) {
      val hof = mixed.select($"doc_id",
        transform(Dedup.shingles(col("text"), n), s => xxhash64(s)).as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val native = mixed.select($"doc_id",
        graft.functions.NgramXxHashes(col("text"), n).as("h"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(hof == native, s"n=$n")
    }
  }

  test("native SimHash60 matches the HOF formulation on normal, short, empty, and messy docs") {
    val mixed = corpus.union(Seq(
      (10L, ""), (11L, "one"), (12L, "  Tabs\tand\nNEWLINES  mixed \t spacing today "),
      (13L, "répétition unicode çà et là répétition unicode çà encore une fois"),
      (14L, "a b a b a b a b"), // heavy in-doc duplication
      (15L, "🦜 emoji 🦜 surrogate-pairs reversed 🦜 emoji test")
    ).toDF("doc_id", "text"))
    for (n <- Seq(1, 3)) {
      val hof = mixed.select($"doc_id",
        (if (n == 1) HofReference.simhashHof(col("text"))
         else HofReference.simhashShingledHof(col("text"), n)).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val native = mixed.select($"doc_id",
        graft.functions.SimHash60(col("text"), n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hof == native, s"shingle=$n")
    }
  }

  test("simhash: identical texts same bits, near-dups close, unrelated far") {
    val fp = corpus.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L))
    val near = java.lang.Long.bitCount(fp(1L) ^ fp(2L))
    val far  = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    assert(near < far)
    assert(near <= 16)
  }

  test("short and empty documents survive shingling (regression: sequence(1,0) slice crash)") {
    val shorts = Seq((1L, "two words"), (2L, ""), (3L, "one"), (4L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    assert(shorts.select(Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0).length).toSeq == Seq(0, 0, 0, 3))
    // full pipelines must not throw on the same corpus
    assert(Dedup.ngramJaccard(shorts, "text", "doc_id", 3, 0.5, 10).count() == 0)
    assert(Dedup.minhashLsh(shorts, "text", "doc_id").count() >= 0)
  }

  test("short docs never become LSH candidates of each other (regression: shared null-sig bucket)") {
    val manyShorts = (1L to 50L).map(i => (i, s"doc $i")) :+ (51L, "a much longer document with plenty of distinct tokens inside")
    val df = manyShorts.toDF("doc_id", "text")
    // all 50 short docs have empty shingle sets; with the shared
    // null-signature bucket they'd produce 50*49/2 spurious pairs
    assert(Dedup.minhashLsh(df, "text", "doc_id").count() == 0)
  }

  test("hammingDist column matches JVM bitCount") {
    val df = Seq((0x0FL, 0xF0L)).toDF("a", "b")
    assert(df.select(Dedup.hammingDist(col("a"), col("b"))).head().getInt(0) == 8)
  }

  test("simhashNearDup: banded candidates equal the brute-force hamming join; bad params refuse") {
    val docs = (1L to 40L).map { i =>
      // clusters of 4 share a base text with one word varied: real
      // near-dup structure plus cross-cluster diversity
      val base = s"shared base text block number ${i / 4} with several common tokens inside"
      (i, s"$base variant${i % 4} tail${i % 7}")
    }.toDF("doc_id", "text")
    val banded = Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 3, nBands = 4)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(Dedup.hammingDist(col("a.sh"), col("b.sh")) <= 3)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute, "pigeonhole banding must be complete at maxHamming <= nBands - 1")
    assert(brute.nonEmpty, "fixture must produce at least one near-dup pair")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 4, nBands = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(docs, "text", "doc_id", maxHamming = 2, nBands = 7)
    }
  }

  test("simhashNearDup hot-bucket cap bounds candidate width on a collapsed-fingerprint corpus") {
    // 200 docs sharing one vocabulary in shuffled orders: the unigram
    // fingerprint is ORDER-BLIND, so all 200 collapse to ONE
    // fingerprint — the templated-corpus failure mode. Uncapped
    // that is 200·199/2 = 19 900 pairs from a single quadratic
    // bucket per band; the cap must drop the hot buckets entirely.
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val templated = (1L to 200L).map { i =>
      val r = new scala.util.Random(i)
      (i, r.shuffle(words.toSeq).mkString(" "))
    }.toDF("doc_id", "text")
    val uncapped = Dedup.simhashNearDup(templated, "text", "doc_id",
      maxHamming = 3, nBands = 4)
    assert(uncapped.count() == 19900L, "order-blind fingerprint must collapse the corpus")
    val capped = Dedup.simhashNearDup(templated, "text", "doc_id",
      maxHamming = 3, nBands = 4, maxBucket = 100)
    assert(capped.count() == 0L, "every bucket is 200 wide; the cap must drop them all")
    // the drop is reported, not silent: 4 bands × 1 bucket each
    val dropped = Dedup.simhashDroppedBuckets(templated, "text", "doc_id",
      nBands = 4, maxBucket = 100).head()
    assert(dropped.getLong(0) == 4L && dropped.getLong(1) == 800L)
    // per-bucket candidate width is provably bounded at any corpus
    // size: with the cap no (band,key) group exceeds maxBucket rows
    val widths = Dedup.simhashBands(templated, "text", "doc_id", nBands = 4)
      .groupBy($"band", $"key").count()
    assert(widths.filter($"count" > 100).count() == 4L)
    // a below-cap near-dup cluster still pairs up under the cap
    val mixed = templated.unionByName(
      Seq((1001L, "entirely different payload text one two three"),
        (1002L, "entirely different payload text one two three"))
        .toDF("doc_id", "text"))
    val pairs = Dedup.simhashNearDup(mixed, "text", "doc_id",
        maxHamming = 3, nBands = 4, maxBucket = 100)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1001L, 1002L)))
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(templated, "text", "doc_id", maxBucket = 1)
    }
  }

  test("simhashShingled separates reordered template fills the unigram hash cannot") {
    val a = "the quick brown fox jumps over the lazy dog tonight"
    val b = "dog the lazy over jumps fox brown quick the tonight" // same words, reordered
    val df = Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text")
    val uni = df.select(Dedup.simhash($"text")).collect().map(_.getLong(0))
    assert(uni(0) == uni(1), "unigram fingerprint is order-blind by construction")
    val sh = df.select(Dedup.simhashShingled($"text", 3)).collect().map(_.getLong(0))
    assert(sh(0) == sh(2), "identical texts must agree")
    assert(java.lang.Long.bitCount(sh(0) ^ sh(1)) > 3,
      "reordered text must separate beyond the radius under shingles")
    // short/empty docs: empty shingle set -> fingerprint 0, and the
    // banded operator excludes them instead of clumping at key 0
    val shorts = Seq((1L, "two words"), (2L, ""), (3L, "one")).toDF("doc_id", "text")
    assert(shorts.select(Dedup.simhashShingled($"text", 3)).collect()
      .forall(_.getLong(0) == 0L))
    assert(Dedup.simhashNearDup(shorts, "text", "doc_id",
      maxHamming = 3, nBands = 4, shingle = 3).count() == 0L)
  }
}
