package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication suite for document corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB): nothing here is O(N²). Exact dedup is a
  * hash groupBy (one shuffle on the digest). Near-dup candidate
  * generation goes through inverted-index / LSH-bucket joins whose
  * width is bounded (`maxDocFreq` caps hot shingles; LSH bands cap
  * bucket fan-out), so the only wide operations shuffle on
  * shingle/band hashes — never on document pairs.
  */
object Dedup {

  private val P = 2147483647L // 2^31-1, Mersenne prime for perm hashes

  /** Exact duplicate groups by content digest: survivor = min id —
    * deterministic, unlike "whichever row pandas kept".
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(md5(col(textCol).cast("binary")).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of the normalized text, as one
    * array column (per-row, no shuffle).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    // Guard short docs: sequence(1, 0) yields the DESCENDING array
    // [1, 0] (not empty), and slice(…, 0, …) then throws at runtime.
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Candidate near-dup pairs by exact n-gram Jaccard over an
    * inverted shingle index. Shingles occurring in more than
    * `maxDocFreq` docs are dropped from the index (bounds the
    * self-join width on skewed corpora; part of the operator's
    * declared semantics).
    */
  /** Shared inverted-index candidate machinery for the pairwise
    * shingle-set scores ([[ngramJaccard]], [[containmentPairs]]):
    * returns candidate pairs with the intersection count and both
    * set sizes — each scorer adds only its own final expression.
    *
    * The repartition is a deliberate materialization boundary: the
    * shingle expression would otherwise be inlined (and recomputed)
    * into the window, the set-size agg, AND both sides of the
    * self-join. It also pre-partitions by shingle, which the
    * doc-frequency window and the join key reuse. Shingles are
    * carried as xxhash64 longs (native NgramXxHashes, one codegen'd
    * loop), not strings: same equality semantics (collision odds
    * ~N²/2⁶⁵), a fraction of the shuffle bytes and comparison cost.
    * The maxDocFreq cap bounds candidate width on hot shingles.
    */
  private[graft] def shingleIntersections(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      maxDocFreq: Int
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val exploded = docs
      .select(col(idCol).as("doc"),
        explode(graft.functions.NgramXxHashes(col(textCol), n)).as("sh"))
      .repartition(col("sh"))
    val setSizes = exploded.groupBy($"doc").agg(count(lit(1)).as("set_size"))
    val index = exploded
      .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy($"sh")))
      .filter($"df" <= maxDocFreq)
      .drop("df")
    val pairs = index.as("a")
      .join(index.as("b"), $"a.sh" === $"b.sh" && $"a.doc" < $"b.doc")
      .groupBy($"a.doc".as("doc_a"), $"b.doc".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(setSizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("set_size", "size_a"), "doc_a")
      .join(setSizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("set_size", "size_b"), "doc_b")
  }

  /** Jaccard score + threshold over a [[shingleIntersections]]
    * frame — split out so a session-cached intersections subtree can
    * feed BOTH scorers without recomputing the inverted index.
    */
  private[graft] def scoreJaccard(intersections: DataFrame, threshold: Double): DataFrame = {
    import intersections.sparkSession.implicits._
    intersections
      .withColumn("jaccard", round($"inter".cast("double") / ($"size_a" + $"size_b" - $"inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** Containment score + threshold over [[shingleIntersections]]. */
  private[graft] def scoreContainment(intersections: DataFrame, threshold: Double): DataFrame = {
    import intersections.sparkSession.implicits._
    intersections
      .withColumn("containment",
        round($"inter".cast("double") / least($"size_a", $"size_b"), 4))
      .filter($"containment" >= threshold)
      .select($"doc_a", $"doc_b", $"containment")
  }

  def ngramJaccard(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int
  ): DataFrame =
    scoreJaccard(shingleIntersections(docs, textCol, idCol, n, maxDocFreq), threshold)

  /** Containment near-superset pairs: |A∩B| / min(|A|,|B|) ≥
    * threshold over word-n-gram shingle sets. The one-sided twin of
    * [[ngramJaccard]]: a short document quoted whole inside a long
    * one has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so
    * symmetric-similarity dedup never sees it — this is the
    * quote/boilerplate-inclusion detector a corpus pipeline runs
    * beside Jaccard. Same scale shape: one shingle-hash exchange
    * reused by the doc-frequency cap and both join sides, candidate
    * width bounded by maxDocFreq.
    */
  def containmentPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      threshold: Double,
      maxDocFreq: Int
  ): DataFrame =
    scoreContainment(shingleIntersections(docs, textCol, idCol, n, maxDocFreq), threshold)

  /** The k (a, b) permutation constants for a given seed. Exposed to
    * `private[graft]` so the DuckDB oracle SQL can embed the SAME
    * constants as literals — the signature is then exactly
    * reproducible outside Spark.
    */
  private[graft] def permutations(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((math.abs(rnd.nextLong()) % P + 1, math.abs(rnd.nextLong()) % P))
  }

  /** Base shingle hashes: polynomial rolling hash of each distinct
    * n-gram (values in [0, 1e9+7) ⊂ [0, P)). RollingHash rather than
    * xxhash64 so the whole signature is expressible in the ANSI-SQL
    * oracle; the native expression is codegen'd, so this is also the
    * faster path.
    */
  def shingleHashes(text: Column, n: Int): Column =
    transform(shingles(text, n), s => graft.functions.RollingHash(s))

  /** MinHash signature from shingle hashes: k permutations
    * h_i(x) = (a_i·x + b_i) mod P, folded in ONE pass over the hash
    * set. `aggregate` evaluates its input collection exactly once per
    * row, so `hashes` may be an inline expression — no staging
    * boundary (and no shuffle) is needed to avoid re-shingling k
    * times. Empty hash sets fold to the all-P sentinel (P itself is
    * unreachable: (a·x+b) mod P < P).
    */
  def minhashFromHashes(hashes: Column, k: Int, seed: Long): Column = {
    val permArr = array(permutations(k, seed).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    aggregate(
      hashes,
      array_repeat(lit(P), k),
      (acc, h) => zip_with(acc, permArr,
        (m, p) => least(m, (p.getField("a") * h + p.getField("b")) % P)))
  }

  /** One-shot signature (convenience; see [[minhashFromHashes]] for
    * the staged scale path).
    */
  def minhashSignature(text: Column, n: Int, k: Int, seed: Long): Column =
    minhashFromHashes(shingleHashes(text, n), k, seed)

  /** (doc, sig, band, bucket) rows from a (doc, sig) frame: band
    * bucket = rolling-hash fold of the band's signature slice mod P
    * (reproducible in SQL, unlike murmur3). Map-shaped.
    */
  private[graft] def bandBucketsOf(
      signed: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    signed.select(
      col("doc"), col("sig"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => aggregate(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            lit(0L), (acc, v) => (acc * 31 + v) % P))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Signature-agreement estimate of Jaccard between two minhash
    * signatures of length k, rounded to 4 dp.
    */
  private[graft] def sigAgreement(sigA: Column, sigB: Column, k: Int): Column =
    round(aggregate(
      zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k, 4)

  /** LSH candidate pairs: signatures banded (`bands` × `rowsPerBand`
    * = k); docs sharing any band bucket are candidates. Shuffle is
    * on (band, bucket-hash) only. Returns pairs with their
    * signature-agreement estimate of Jaccard.
    */
  def minhashLsh(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    val k = bands * rowsPerBand

    // ONE map-only pass builds (doc, sig) via the native codegen'd
    // MinHashSig expression (same semantics as
    // minhashFromHashes∘shingleHashes, one tight loop instead of
    // interpreted HOF lambdas). The single materialization barrier is
    // an executor-local checkpoint — no network shuffle — read by
    // both self-join sides; ReuseExchange then dedups the one
    // (band, bucket) exchange the join needs. Net: ONE shuffle for
    // the whole operator (was three).
    // Docs shorter than n tokens have an EMPTY shingle set → the
    // all-P sentinel signature shared by every such doc → one
    // gigantic LSH bucket whose self-join is O(m²). They cannot be
    // near-dup candidates under this shingling, so drop them after
    // the checkpoint (a cheap stored-column predicate — no text
    // re-tokenization).
    val signed = docs
      .select(col(idCol).as("doc"),
        graft.functions.MinHashSig(col(textCol), n, k, seed).as("sig"))
      .localCheckpoint(true)
      .filter(col("sig")(0) < P)
    lshPairs(signed, bands, rowsPerBand)
  }

  /** [[minhashLsh]]'s pairs from a signed (doc, sig) frame without empty-shingle docs. */
  private def lshPairs(signed: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val spark = signed.sparkSession
    import spark.implicits._
    // Band bucket = rolling-hash fold of the band's signature slice
    // (not murmur3): same join semantics, reproducible in the SQL
    // oracle.
    val banded = bandBucketsOf(signed, bands, rowsPerBand)

    val candidates = banded.as("a")
      .join(banded.as("b"),
        $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" && $"a.doc" < $"b.doc")
      .select($"a.doc".as("doc_a"), $"b.doc".as("doc_b"), $"a.sig".as("sig_a"), $"b.sig".as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")

    candidates
      .withColumn("est_jaccard", sigAgreement($"sig_a", $"sig_b", bands * rowsPerBand))
      .select($"doc_a", $"doc_b", $"est_jaccard")
  }

  /** Incremental MinHash-LSH dedup against a PERSISTED signature
    * store — the daily-crawl-increment pattern: each new batch is
    * deduped (a) within itself and (b) against every document ever
    * kept, WITHOUT rescanning any prior batch's text. The store at
    * `storeDir` is a parquet dir of (doc, sig) — signatures only,
    * ~k longs per kept doc; band buckets are recomputed from the
    * stored sigs by map-side HOF math (no text, no re-tokenize).
    *
    * Semantics: a new doc is dropped if its signature agreement with
    * any STORED doc ≥ `simThreshold` (store wins), or with a KEPT
    * smaller-id doc of the same batch (component-min survivor via
    * CC, matching [[minhashLsh]] + connected-components semantics).
    * Empty-shingle docs (shorter than n tokens) are kept but not
    * stored — they cannot be near-dups under this shingling and
    * would otherwise form one gigantic LSH bucket.
    *
    * Scale shape (100 TB corpus, daily increments): the batch is
    * signed in one map pass; the only exchanges are the (band,
    * bucket) joins — batch×batch and batch×store — both bucket-
    * bounded, never all-pairs; the store side reads only the
    * signature parquet (k·8 bytes per historical doc, NOT the
    * corpus). Returns the kept rows of `newDocs` (all columns) and
    * appends the kept signatures to the store.
    */
  def incrementalNearDup(
      newDocs: DataFrame,
      textCol: String,
      idCol: String,
      storeDir: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      seed: Long = 42L,
      simThreshold: Double = 0.7
  ): DataFrame = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    val k = bands * rowsPerBand

    val signedAll = newDocs
      .select(col(idCol).as("doc"),
        graft.functions.MinHashSig(col(textCol), n, k, seed).as("sig"))
      .localCheckpoint(true)
    val signed = signedAll.filter(col("sig")(0) < P)

    // (a) intra-batch: verified near-dup pairs → CC → survivor =
    // component min; everything else in a component drops. The batch
    // is signed once: these pairs come from the same signatures.
    val pairs = lshPairs(signed, bands, rowsPerBand).filter(col("est_jaccard") >= simThreshold)
    val intraDropped = connectedComponents(pairs, "doc_a", "doc_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc"))
    val intraKept = signed.join(intraDropped, Seq("doc"), "left_anti")

    // (b) cross-store: batch buckets ⋈ store buckets, verify on full
    // signatures. Missing/empty store = first batch, nothing drops.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val storePath = new org.apache.hadoop.fs.Path(storeDir)
    val store =
      if (fs.exists(storePath)) spark.read.parquet(storeDir)
      else Seq.empty[(Long, Array[Long])].toDF("doc", "sig")
    val batchB = bandBucketsOf(intraKept, bands, rowsPerBand)
    val storeB = bandBucketsOf(
      store.select(col("doc"), col("sig")), bands, rowsPerBand)
    val crossDropped = batchB.as("a")
      .join(storeB.as("b"), $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket")
      .select($"a.doc".as("doc"), $"b.doc".as("store_doc"),
        $"a.sig".as("sig_a"), $"b.sig".as("sig_b"))
      .dropDuplicates("doc", "store_doc")
      .filter(sigAgreement($"sig_a", $"sig_b", k) >= simThreshold)
      .select(col("doc")).distinct()

    val kept = intraKept.join(crossDropped, Seq("doc"), "left_anti")
      .localCheckpoint(true) // sever from the store read below before appending
    kept.write.mode("append").parquet(storeDir)

    val keptIds = kept.select(col("doc"))
      .union(signedAll.filter(col("sig")(0) === P).select(col("doc")))
    newDocs.join(keptIds.withColumnRenamed("doc", idCol), Seq(idCol), "left_semi")
  }

  /** Number of SimHash bits: two independent 30-bit rolling hashes
    * (forward + reversed token) concatenated. 60 rather than 64 so
    * every intermediate stays overflow-free in BOTH Spark and the
    * ANSI-SQL oracle (no 64-bit wraparound to emulate).
    */
  val SimhashBits = 60

  /** 60-bit SimHash over token hashes: per bit, sum +1/−1 votes
    * across distinct tokens; bit set if the vote is positive. No
    * shuffle, no UDF. Token hash = rolling(token) << 30 |
    * rolling(reverse(token)) — reproducible in the SQL oracle,
    * unlike xxhash64.
    *
    * r14: computed by the native codegen'd
    * [[graft.functions.SimHash60]] (the MinHashSig/NgramXxHashes
    * precedent) — the HOF `aggregate`/`zip_with` formulation
    * allocated a 60-long vote array plus a 60-long `sequence` per
    * FEATURE under interpreted lambdas; the expression is one tight
    * loop with identical bits (the HOF formulation stays in test
    * scope, `HofReference.simhashHof`, as the spec's reference).
    */
  def simhash(text: Column): Column = graft.functions.SimHash60(text, 1)

  /** SimHash over word n-gram SHINGLES instead of unigrams (r13).
    * On templated/boilerplate corpora the unigram fingerprint
    * collapses — documents sharing a vocabulary but not an order
    * land hamming-0 apart — while shingles carry word ORDER, so the
    * fingerprint actually separates reordered template fills.
    * Shingle hash = the unigram scheme applied to the joined
    * shingle string (rolling ≪ 30 | rolling∘reverse — SQL-oracle
    * reproducible). Docs shorter than `n` tokens have an empty
    * shingle set → fingerprint 0 (callers that band should exclude
    * them, as [[simhashNearDup]] does).
    */
  def simhashShingled(text: Column, n: Int = 3): Column = {
    require(n >= 1, "shingle width must be >= 1")
    // r14: native codegen'd expression (see [[simhash]]);
    // `HofReference.simhashShingledHof` is the spec's reference.
    graft.functions.SimHash60(text, n)
  }

  /** Hamming distance between two simhash fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Banded near-dup candidate pairs over [[simhash]] fingerprints
    * (r12 — the simhash sibling of `Multimodal.phashNearDup`): the
    * 60-bit fingerprint splits into `nBands` equal bands; by
    * pigeonhole any pair within `maxHamming ≤ nBands − 1` bits
    * agrees on at least one full band, so with `maxBucket`
    * unlimited the band equi-join is a COMPLETE candidate generator
    * at that radius, and the exact `bit_count` verify keeps only
    * true matches. Scale shape: one map pass emits nBands
    * (band, key) rows per doc; the only wide op is the band-bucket
    * equi-join (never an all-pairs product); verification touches
    * candidate pairs only.
    *
    * r13 hardening: `maxBucket` caps hot (band, key) buckets (see
    * inline note — completeness becomes per-band best-effort, work
    * becomes linear-in-N guaranteed) and `shingle > 1` switches the
    * fingerprint to [[simhashShingled]], whose word-order-aware
    * features keep templated corpora from collapsing into
    * hamming-0 clumps in the first place.
    */
  def simhashNearDup(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      nBands: Int = 4,
      maxBucket: Int = Int.MaxValue,
      shingle: Int = 1
  ): DataFrame = {
    simhashNearDupFromBands(
      simhashBands(docs, textCol, idCol, nBands, shingle),
      maxHamming, nBands, maxBucket)
  }

  /** [[simhashNearDup]] over an already-materialized
    * [[simhashBands]] frame — callers that also need bucket stats
    * (the eval rows) fingerprint once and reuse the frame.
    */
  private[graft] def simhashNearDupFromBands(
      banded: DataFrame,
      maxHamming: Int,
      nBands: Int,
      maxBucket: Int
  ): DataFrame = {
    require(maxHamming < nBands,
      s"pigeonhole needs maxHamming ($maxHamming) < nBands ($nBands)")
    require(maxBucket >= 2, s"maxBucket ($maxBucket) below 2 generates no pairs")
    // Hot-bucket cap (r13, the standard LSH convention — the E4
    // df≤100 / E22 distinct-name precedents): a (band, key) bucket
    // wider than `maxBucket` is dropped from candidate GENERATION in
    // that band. On templated corpora a collapsed fingerprint
    // otherwise makes one bucket quadratic — a straggler task that
    // never finishes at 100 TB. The cap bounds per-bucket work to
    // maxBucket² and total candidates to maxBucket·nBands·N (linear
    // in N). It is stated SEMANTICS, not a silent heuristic:
    // generation is no longer pigeonhole-complete at the radius —
    // pairs inside a dropped bucket surface only via their other
    // bands — and [[simhashDroppedBuckets]] reports exactly what was
    // dropped (the eval rows emit it under the oracle hash). The
    // width window shuffles on the same (band, key) the self-join
    // hashes on, so the cap adds no extra exchange of the wide data.
    val capped =
      if (maxBucket == Int.MaxValue) banded
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("key"))
        banded.withColumn("_bw", count(lit(1)).over(w))
          .filter(col("_bw") <= maxBucket).drop("_bw")
      }
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hammingDist(col("a.sh"), col("b.sh")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (doc_id, sh, band, key) band rows for [[simhashNearDup]] —
    * `shingle = 1` uses the unigram [[simhash]]; `shingle = n > 1`
    * uses [[simhashShingled]] and excludes docs with an empty
    * shingle set (they would all collide at fingerprint 0, one
    * giant artificial bucket — the minhashLsh sentinel convention).
    */
  private[graft] def simhashBands(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      nBands: Int,
      shingle: Int = 1
  ): DataFrame = {
    require(shingle >= 1, "shingle width must be >= 1")
    val fp =
      if (shingle <= 1) simhash(col(textCol))
      else simhashShingled(col(textCol), shingle)
    val base = docs.select(col(idCol).as("doc_id"), fp.as("sh"),
      size(split(lower(trim(col(textCol))), "\\s+")).as("_ntok"))
    val sh =
      (if (shingle <= 1) base else base.filter(col("_ntok") >= shingle)).drop("_ntok")
    simhashBandsFromFp(sh, nBands)
  }

  /** Band rows from an already-computed (doc_id, sh) fingerprint
    * table — callers that sign several fingerprint VARIANTS in one
    * corpus scan (the eval rows) band each variant from the shared
    * 16-byte/doc table instead of re-signing per variant (r14).
    */
  private[graft] def simhashBandsFromFp(fp: DataFrame, nBands: Int): DataFrame = {
    require(SimhashBits % nBands == 0, s"$nBands bands must divide $SimhashBits bits")
    val bandBits = SimhashBits / nBands
    val mask = (1L << bandBits) - 1
    fp.select(col("doc_id"), col("sh"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("doc_id"), col("sh"), col("band"),
        call_function("shiftright", col("sh"),
          (col("band") * bandBits).cast("int")).bitwiseAND(mask).as("key"))
  }

  /** Per-band count of (band, key) buckets wider than `maxBucket` —
    * the "logged, not silent" face of [[simhashNearDup]]'s cap: the
    * eval rows emit this next to the recall numbers so a capped run
    * states exactly how much generation it gave up.
    */
  def simhashDroppedBuckets(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      nBands: Int,
      maxBucket: Int,
      shingle: Int = 1
  ): DataFrame =
    simhashBands(docs, textCol, idCol, nBands, shingle)
      .groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") > maxBucket)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_dropped_buckets"),
        coalesce(sum(col("w")), lit(0L)).as("dropped_width"))

  /** Connected components over near-dup pairs → dedup groups: each
    * node labeled with the minimum doc id reachable from it.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** (labels, rounds), rounds exposed for tests. At most `driverCap` LONG-id pairs are
    * labeled by a union-find on the driver, rounds = 0; more pairs and other id types take
    * the star rounds, with the same (node, component) set and schema. The cap bounds driver
    * memory, not speed: the driver finish was faster at every size measured, up to 4M pairs.
    *
    * Large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): rounds scale with
    * O(log n) — NOT graph diameter — so adversarial long chains
    * converge as fast as near-dup cliques. Each round is two
    * window-min passes (one shuffle each) over the shrinking edge
    * set; per-round `localCheckpoint` truncates the self-referencing
    * lineage (the plan would otherwise double every round).
    *
    *  - large-star: per node x over BOTH edge directions, connect
    *    every larger neighbor to m = min(Γ(x) ∪ x);
    *  - small-star: per larger endpoint x of canonical (u<v) edges,
    *    connect every smaller neighbor and x itself to the minimum
    *    smaller neighbor.
    *
    * At the fixed point every component is a star rooted at its
    * minimum id; labels read directly off the edges.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20,
      driverCap: Long = DriverCcPairs
  ): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Materialize the pair source ONCE: `pairs` is referenced by two
    // branches below, so an expensive upstream (the Jaccard candidate
    // pipeline) would run twice otherwise. The checkpoint is lazy: the
    // first job over `raw` (the count, for LONG ids) fills it.
    val raw = pairs.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint(false)
    val nodes = raw.select($"a".as("node")).union(raw.select($"b".as("node"))).distinct()
    val node = nodes.schema("node")
    if (node.dataType == LongType && raw.rdd.count() <= driverCap) return (labelsOnDriver(raw, node), 0)
    var edges = raw
      .filter($"a" =!= $"b")
      .select(least($"a", $"b").as("u"), greatest($"a", $"b").as("v"))
      .distinct()
      .localCheckpoint(true)

    def largeStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy($"x")
      // No intermediate distinct (r14): the y > x filter keeps each
      // canonical edge from exactly one direction, so the output is
      // ≤ |e| rows WITH duplicates — never more — and smallStar's
      // window-min and final distinct absorb (m, y) duplicates
      // unchanged. The r13 shape paid a third per-round exchange
      // (hash by (u, v)) purely to shrink rows the next window
      // re-shuffles by v anyway.
      e.select($"u".as("x"), $"v".as("y"))
        .union(e.select($"v".as("x"), $"u".as("y")))
        .withColumn("m", least(min($"y").over(w), $"x"))
        .filter($"y" > $"x" && $"m" =!= $"y")
        .select($"m".as("u"), $"y".as("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy($"v")
      val withMin = e.withColumn("m", min($"u").over(w))
      withMin.select($"m".as("u"), $"u".as("v"))
        .union(withMin.select($"m".as("u"), $"v".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }

    var rounds = 0
    var converged = edges.isEmpty
    while (!converged && rounds < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // Exact fixed-point test in ONE action (r14 — replaces the
      // per-round count() plus the count-gated except().isEmpty, 2-3
      // driver jobs per round): both sides are DISTINCT canonical
      // (u, v) sets, so next == edges iff every pair of their union
      // appears exactly twice. Same fixed point, same round count.
      converged = next.unionAll(edges)
        .groupBy($"u", $"v").agg(count(lit(1)).as("_n"))
        .filter($"_n" =!= 2).isEmpty
      edges = next
      rounds += 1
    }
    // Fixed point = disjoint stars: every non-root appears exactly
    // once as v with its root as u; roots label themselves.
    val labels = nodes
      .join(edges.groupBy($"v".as("node")).agg(min($"u").as("root")), Seq("node"), "left")
      .select($"node", coalesce($"root", $"node").as("component"))
    (labels, rounds)
  }

  /** Most pairs [[connectedComponentsWithRounds]] labels on the driver: ~2 MB of longs
    * collected, at most ~4 MB of (node, component) longs broadcast. */
  private[graft] val DriverCcPairs = 1L << 17

  /** Union-find labels of LONG-id pairs on primitive arrays, as a one-partition RDD over a
    * broadcast: one part file, shipped once however often it is read, and never
    * auto-broadcast, so callers' join plans keep their exchanges. Ids are sorted, so the
    * smaller root index is the smaller id. A null end adds one (null, null) row. */
  private def labelsOnDriver(raw: DataFrame, node: StructField): DataFrame = {
    val (a, b) = (col("a"), col("b"))
    // Per partition: (a0, b0, a1, b1, …) and whether an end was null; (x, null) reads as (x, x).
    val parts = raw.select(coalesce(a, b).cast(LongType), coalesce(b, a).cast(LongType), a.isNull || b.isNull)
      .rdd.mapPartitions { rows =>
        val ends = Array.newBuilder[Long]
        var hasNull = false
        rows.foreach { r =>
          hasNull ||= r.getBoolean(2)
          if (!r.isNullAt(0)) { ends += r.getLong(0); ends += r.getLong(1) }
        }
        Iterator((ends.result(), hasNull))
      }.collect()
    val ends = Array.concat(parts.map(_._1).toIndexedSeq: _*)
    val ids = ends.sorted
    var n = 0
    for (i <- ids.indices if i == 0 || ids(i) != ids(i - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def at(id: Long) = find(java.util.Arrays.binarySearch(ids, 0, n, id))
    for (k <- ends.indices by 2) {
      val (x, y) = (at(ends(k)), at(ends(k + 1)))
      parent(x max y) = x min y
    }
    val comps = new Array[Long](n)
    for (i <- 0 until n) comps(i) = ids(find(i))
    val hasNull = parts.exists(_._2)
    val labels = raw.sparkSession.sparkContext.broadcast((ids.take(n), comps))
    val rows = raw.sparkSession.sparkContext.parallelize(Seq(0), 1).flatMap { _ =>
      val (ids, comps) = labels.value
      ids.indices.iterator.map(i => Row(ids(i), comps(i))) ++ Iterator.single(Row(null, null)).filter(_ => hasNull)
    }
    raw.sparkSession.createDataFrame(rows, StructType(Seq(node, StructField("component", LongType, node.nullable))))
  }

  /** Benchmark decontamination: flag training documents sharing any
    * word n-gram with an evaluation set — the filter every serious
    * pretraining pipeline runs so eval benchmarks don't leak into
    * the training corpus. Returns (doc_id, n_shared) for
    * contaminated docs only.
    *
    * Scale shape: the eval side is benchmark-sized (thousands of
    * docs, not billions) — its distinct shingle set is BROADCAST, so
    * the 100 TB training scan is map-only; the lone shuffle
    * aggregates the (contaminated-docs-only) hits by doc id.
    */
  def decontaminate(
      train: DataFrame,
      evalDocs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int
  ): DataFrame = {
    // Native codegen'd shingle hashing (NgramXxHashes): hash
    // equality == shingle-string equality at 2^-64 collision odds,
    // 8-byte keys through the broadcast and the scan.
    val evalShingles = evalDocs
      .select(explode(graft.functions.NgramXxHashes(col(textCol), n)).as("sh"))
      .distinct()
    train
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.NgramXxHashes(col(textCol), n)).as("sh"))
      .join(broadcast(evalShingles), "sh")
      .groupBy(col("doc_id"))
      // the hash set is already distinct per doc, so count(*) IS the
      // number of distinct shared shingles — no countDistinct state.
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s 100-TB-eval
    * variant. The exact path broadcasts every distinct eval shingle
    * hash (8 B each); once the eval suite grows past ~10⁸ shingles
    * that broadcast is the bottleneck. Here the eval set rides as a
    * Bloom filter (~1.2 B/element at 1% FPR, built DISTRIBUTED via
    * mergeable per-partition sketches in `stat.bloomFilter`) and the
    * train scan tests membership through the codegen'd
    * [[graft.functions.BloomContainsLong]] — still map-only, no
    * join at all. One-sided error: the output is a SUPERSET of the
    * exact answer (false positives at ≤ fpp per probe, never false
    * negatives), so removal pipelines can act on it directly, or
    * exact-verify the (now tiny) flagged set with one more join.
    */
  def decontaminateBloom(
      train: DataFrame,
      evalDocs: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      fpp: Double = 0.01
  ): DataFrame = {
    val evalShingles = evalDocs
      .select(explode(graft.functions.NgramXxHashes(col(textCol), n)).as("sh"))
      .distinct()
    // Sizing pass over the (benchmark-sized) eval side only; the
    // filter build is a distributed mergeable aggregation.
    val nItems = evalShingles.count()
    if (nItems == 0L)
      // stat.bloomFilter NPEs on zero rows (null aggregate buffer);
      // an empty eval set contaminates nothing, schema preserved.
      return train.select(col(idCol).as("doc_id")).limit(0)
        .withColumn("n_shared", lit(0L))
    val bloom = evalShingles.stat.bloomFilter("sh", nItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    train
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.NgramXxHashes(col(textCol), n)).as("sh"))
      .filter(graft.functions.BloomContainsLong(col("sh"), bytes))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
