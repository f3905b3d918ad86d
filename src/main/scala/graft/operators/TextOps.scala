package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting,
  * quality scoring, language ID, and document fingerprinting.
  * Everything is higher-order column math (`split`/`filter`/
  * `aggregate`) — per-row, codegen-friendly, zero shuffles, so it
  * streams over 100 TB of documents at scan speed.
  */
object TextOps {

  val Punct = "[.,!?;:]"

  /** Small per-language stopword lists for the n-gram/stopword
    * language-ID heuristic. Order matters: ties break toward the
    * earlier language.
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "que"))

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-style pre-tokenization pattern (the GPT-2 shape: common
    * English contractions, space-prefixed letter runs, digit runs,
    * punctuation runs, residual whitespace) — WITHOUT the original's
    * trailing-space lookahead, so the same pattern means the same
    * thing in Java regex and RE2-based engines. A real tokenizer's
    * token count tracks these pre-tokens far better than whitespace
    * splitting does (contractions and punctuation count separately).
    */
  val BpePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token count under BPE-style pre-tokenization. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePretokenPattern)).cast("long")

  /** Count of punctuation chars (quality signal). */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, Punct, ""))).cast("long")

  /** Count of uppercase chars. */
  def upperCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[A-Z]", ""))).cast("long")

  /** Tokens present in `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  /** Composite document quality score in [0,1]: length signal,
    * stopword density (fluent text has some), shoutiness penalty.
    * Deterministic closed form so an external engine can replicate
    * it bit-for-bit.
    */
  def qualityScore(text: Column): Column = {
    val nTokens = tokenCount(text).cast("double")
    val nChars  = length(text).cast("double")
    val stopRatio  = hitCount(tokens(text), Stopwords.head._2).cast("double") / nTokens
    val upperRatio = upperCount(text).cast("double") / nChars
    round(
      lit(0.4) * least(nTokens / 100.0, lit(1.0)) +
        lit(0.4) * least(stopRatio * 5.0, lit(1.0)) +
        lit(0.2) * (lit(1.0) - least(upperRatio * 10.0, lit(1.0))),
      4)
  }

  /** Stopword-vote language ID with deterministic priority-order
    * tie-break; 'und' (undetermined) when nothing hits.
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val hits = Stopwords.map { case (lang, words) => lang -> hitCount(toks, words) }
    // First language (in priority order) whose count >= all others and > 0.
    val allCounts = hits.map(_._2)
    val branches = hits.map { case (lang, c) =>
      val isMax = allCounts.map(o => c >= o).reduce(_ && _)
      (isMax && c > 0, lang)
    }
    branches.foldRight(lit("und"): Column) { case ((cond, lang), acc) =>
      when(cond, lit(lang)).otherwise(acc)
    }
  }

  /** Polynomial rolling-hash fingerprint over the characters of the
    * whitespace-normalized lowercase text: h = (31·h + code) mod
    * 1e9+7. One pass per row, no shuffle. Uses the native codegen'd
    * [[graft.functions.RollingHash]] expression (one generated loop
    * per row instead of a per-character array + interpreted lambda).
    */
  def fingerprint(text: Column): Column =
    graft.functions.RollingHash(normalized(text))

  private[operators] def normalized(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Character-level Shannon entropy (nats) — the gibberish/
    * boilerplate signal quality filters threshold on (low entropy =
    * repeated filler, high = random noise). Pure column HOFs over
    * the char array: counts come from `filter` per distinct char
    * (O(len·alphabet) compute, zero shuffle) so the whole metric is
    * a map-only scan — at 100 TB this rides the same pass as every
    * other per-doc quality column instead of exploding len× rows
    * into a shuffle.
    */
  def charEntropy(text: Column): Column = {
    val chars = filter(split(text, ""), c => length(c) > 0)
    val n = size(chars).cast("double")
    val terms = transform(array_distinct(chars), u => {
      val p = size(filter(chars, c => c === u)).cast("double") / n
      p * log(p)
    })
    lit(0.0) - aggregate(terms, lit(0.0), (acc, v) => acc + v)
  }

  /** Distinct-character count — charEntropy's support size. */
  def charAlphabet(text: Column): Column =
    size(array_distinct(filter(split(text, ""), c => length(c) > 0))).cast("long")

  /** PII-style pattern redaction (emails, phone-like digit runs) —
    * the scrubbing pass every training corpus gets before release.
    * Pure regexp_replace: map-only at scan speed.
    */
  def redact(text: Column): Column = {
    val noEmail = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(noEmail, "[0-9]+", "<NUM>")
  }

  /** Gopher-style repetition metrics per document — the filters a
    * training corpus applies to drop boilerplate/spam: fraction of
    * tokens claimed by the single most frequent word, by the most
    * frequent bigram, and the duplicate-trigram fraction
    * (1 − distinct/total). Every statistic is within-document, so
    * the whole operator is per-row array math inside whole-stage
    * codegen — ZERO shuffles (max n-gram multiplicity = longest
    * equal-run in the sorted n-gram array, one O(L log L) sort +
    * one fold per row).
    *
    * `repetitive` flags docs past the thresholds (Gopher's published
    * cutoffs are the same order: top-2gram > 0.18, dup-ngram > 0.30).
    */
  def repetitionMetrics(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      topWordMax: Double = 0.20,
      topBigramMax: Double = 0.18,
      dupTrigramMax: Double = 0.30
  ): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val toks = split(lower(trim(col(textCol))), "\\s+")

    // Every metric is WITHIN-document, so the whole operator is
    // per-row array math — zero shuffle. (The explode → groupBy
    // formulation moves the full token mass through THREE exchanges
    // at 100 TB for statistics each row can compute locally.)
    // Max n-gram multiplicity == longest equal-run in the sorted
    // n-gram array: one O(L log L) sort + one fold per row.
    def maxMultiplicity(arr: Column): Column =
      aggregate(
        array_sort(arr),
        struct(lit(null).cast("string").as("prev"),
          lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))

    // trigram = tokens at (i, i+1, i+2), positions 1..n-2. Short docs
    // must short-circuit to an empty array: step-less sequence(1, 0)
    // counts DOWN ([1, 0]), it is not empty.
    val triArr = when(size(toks) >= 3,
      transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
    ).otherwise(array())
    val bigramArr = graft.functions.WordBigrams(col(textCol))

    def fracOrZero(num: Column, den: Column): Column =
      round(coalesce(num.cast("double") / den, lit(0.0)), 4)

    docs.select(
        id.as("doc_id"),
        fracOrZero(maxMultiplicity(toks), size(toks).cast("double"))
          .as("top_word_frac"),
        fracOrZero(maxMultiplicity(bigramArr),
          when(size(bigramArr) > 0, size(bigramArr).cast("double")))
          .as("top_bigram_frac"),
        // exactly 1.0 − d/n (not (n−d)/n): same float op order as
        // the oracle, so the 4-dp rounding can never diverge.
        round(coalesce(
          lit(1.0) - size(array_distinct(triArr)).cast("double") /
            when(size(triArr) > 0, size(triArr).cast("double")),
          lit(0.0)), 4).as("dup_trigram_frac"))
      .withColumn("repetitive",
        col("top_word_frac") > topWordMax ||
          col("top_bigram_frac") > topBigramMax ||
          col("dup_trigram_frac") > dupTrigramMax)
  }

  /** Split documents into fixed-size token chunks with overlap — the
    * context-window preparation step before tokenization/training.
    * Chunk starts stride apart (stride = size − overlap); every doc
    * emits at least one chunk; a final partial chunk is emitted iff
    * it extends past the previous chunk's end. Map-only: the explode
    * multiplies rows but nothing shuffles.
    */
  def chunk(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      chunkSize: Int,
      overlap: Int
  ): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"chunk: need 0 <= overlap < chunkSize, got $overlap/$chunkSize")
    val stride = chunkSize - overlap
    val toks = split(trim(col(textCol)), "\\s+")
    val n = graft.operators.TextOps.tokenCount(col(textCol))
    // number of chunk starts: ceil((n - overlap)/stride), clamped >= 1.
    val nChunks = greatest(ceil((n - lit(overlap)).cast("double") / stride).cast("long"), lit(1L))
    docs.select(
      col(idCol).as("doc_id"), toks.as("_t"),
      explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"),
        slice(col("_t"), (col("chunk_idx") * stride + 1).cast("int"), lit(chunkSize)).as("_c"))
      .select(
        col("doc_id"), col("chunk_idx"),
        size(col("_c")).cast("long").as("chunk_tokens"),
        array_join(col("_c"), " ").as("chunk_text"))
  }

  /** Corpus unigram language-model score per document: mean
    * ln P(token) under the corpus unigram distribution — the cheap
    * fluency/perplexity proxy used to rank documents before the
    * expensive model-based filters. One token-count shuffle
    * (vocabulary-sized output), then a join back onto the exploded
    * tokens. The freq side carries NO broadcast hint on purpose: at
    * web scale the unigram vocabulary is 10⁸-10⁹ rows and a forced
    * broadcast OOMs; AQE converts the join to broadcast at runtime
    * when the table really is small, and falls back to a shuffle
    * join on `term` (which reuses freq's aggregation exchange)
    * when it isn't.
    */
  def unigramLogprob(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String
  ): org.apache.spark.sql.DataFrame = {
    val terms = docs.select(
      col(idCol).as("doc_id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
    val freq = terms.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    // Corpus size from the vocabulary-sized freq table — NOT a second
    // corpus pass.
    val total = freq.agg(sum(col("tf")).as("n_total"))
    terms
      .join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(round(avg(log(col("tf").cast("double") / col("n_total"))), 4).as("mean_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** [[unigramLogprob]]'s sketch twin: term frequencies come from a
    * Count-Min Sketch instead of the vocabulary table, so the
    * N-proportional join on `term` disappears entirely — the probe
    * is a map-only codegen'd lookup against a FIXED-size sketch
    * (depth×width counters, independent of |V|), built distributed
    * via mergeable per-partition partials (`stat.countMinSketch`).
    * Error is one-sided: CMS never undercounts, so the estimated
    * mean ln P is ≥ the exact one, with per-term overcount ≤ eps·N
    * at the configured confidence. Terms probe as xxhash64 longs
    * (8-byte keys, same trick as the shingle pipelines).
    */
  def unigramLogprobSketch(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      eps: Double = 1e-4,
      confidence: Double = 0.99
  ): org.apache.spark.sql.DataFrame = {
    val terms = docs
      .select(
        col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .select(col("doc_id"), xxhash64(col("term")).as("th"))
    val cms = terms.stat.countMinSketch("th", eps, confidence, 42)
    val total = cms.totalCount()
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      bos.toByteArray
    }
    terms
      .select(col("doc_id"),
        graft.functions.CmsCountLong(col("th"), bytes).as("tf_est"))
      .groupBy(col("doc_id"))
      .agg(
        round(avg(log(col("tf_est").cast("double") / total)), 4).as("mean_logprob_est"),
        count(lit(1)).as("n_tokens"))
  }

  /** Corpus bigram language-model score per document: mean
    * ln P(w₂ | w₁) under corpus MLE bigram statistics — one step up
    * from [[unigramLogprob]]'s fluency proxy (word-order-aware, so
    * shuffled text scores low even with common words). Conditional
    * probabilities are derived entirely from the bigram frequency
    * table: c(w₁ ·) = Σ over bigrams starting with w₁ — a
    * vocabulary-sized rollup, NOT a second corpus pass. The probs
    * side carries NO broadcast hint: the bigram table is the
    * largest of the vocab tables (order |V|² worst case) and a
    * forced broadcast is the classic 100-TB OOM; AQE broadcasts at
    * runtime only when it measures small, else the join shuffles on
    * `b`. Docs with fewer than two tokens have no bigrams and drop
    * out (same on the SQL side).
    *
    * Shape (round-6 sf1 probe: the instance-stream form ran 13.4×
    * at 10× data): the exploded stream is compacted to per-doc
    * bigram COUNTS in its first and only shuffle — the corpus is
    * tokenized ONCE, every later join/agg moves (doc, bigram, n)
    * rows (bounded by doc vocabulary, not doc length), and the mean
    * becomes the n-weighted form Σ n·ln p / Σ n, identical math
    * with less addition error.
    */
  def bigramLogprob(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String
  ): org.apache.spark.sql.DataFrame = {
    val db = docs.select(
      col(idCol).as("doc_id"),
      explode(graft.functions.WordBigrams(col(textCol))).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("n"))
    val freq = db.groupBy(col("b")).agg(sum(col("n")).as("cb"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
    val firstFreq = freq.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    val probs = freq.join(firstFreq, "w1")
      .select(col("b"), (col("cb").cast("double") / col("cw")).as("p"))
    db.join(probs, "b")
      .groupBy(col("doc_id"))
      .agg(
        round(sum(col("n") * log(col("p"))) / sum(col("n")), 4)
          .as("mean_bigram_logprob"),
        sum(col("n")).as("n_bigrams"))
  }

  /** TF-IDF top-k terms per document: tf = in-doc term count,
    * idf = ln(N/df). Shuffles on (doc, term) for tf and on term for
    * df; the df table is vocabulary-sized, so it is NOT force-
    * broadcast — AQE broadcasts it at runtime when small, else the
    * join shuffles on `term` and reuses df's aggregation exchange.
    * The only N-proportional shuffles are the tf count and the
    * per-doc top-k window.
    */
  def tfIdfTopK(docs: org.apache.spark.sql.DataFrame, textCol: String, idCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(
      col(idCol).as("doc"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
    val tf = terms.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc")).orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc").as("doc_id"), col("term"), col("tfidf"), col("rank"))
  }

  /** BM25 retrieval: score every document against a fixed query-term
    * set and return the global top-k. Unlike the TF-IDF path there is
    * NO explode and NO (doc, term) shuffle: per-query-term tf and the
    * doc length both come from array functions over the token split —
    * one map-only pass per document. The only aggregate is a single
    * 1-row reduction (N, avgdl, df per query term — |query| columns,
    * so broadcasting it is size-bounded by the query, not the corpus),
    * and the top-k is TakeOrderedAndProject (per-partition heaps, no
    * global sort). That shape is 100 TB-safe: corpus bytes move once
    * through the scan and once through a k-row heap.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Robertson-
    * Sparck Jones form, always positive); contributions are summed
    * left-to-right in query-term order so the oracle's `+` chain
    * reproduces the same IEEE association.
    */
  def bm25TopK(
      docs: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      k: Int = 20
  ): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: queryTerms must be non-empty")
    val toks = docs.select(
      col(idCol).as("doc_id"),
      split(lower(trim(col(textCol))), "\\s+").as("t"))
    def tfCol(t: String) = s"tf_${t}"
    def dfCol(t: String) = s"df_${t}"
    val per = toks.select(
      col("doc_id") +:
        size(col("t")).cast("double").as("dl") +:
        queryTerms.map(t =>
          size(filter(col("t"), x => x === lit(t))).cast("double").as(tfCol(t))): _*)
    val stats = per.agg(
      count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl") +:
        queryTerms.map(t =>
          sum(when(col(tfCol(t)) > 0, 1).otherwise(0)).cast("double").as(dfCol(t))): _*)
    val score = queryTerms
      .map { t =>
        val tf = col(tfCol(t))
        val df = col(dfCol(t))
        val idf = log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5)))
        idf * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
      }
      .reduce(_ + _)
    per
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }
}
