package graft.queries

import graft.Tables
import graft.operators.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 extension batch 2: corpus-curation surfaces from the
  * published training-data playbooks — rule-based quality filtering
  * (Gopher/MassiveText), hashed-feature importance weighting (DSIR),
  * duplicate down-weighting over near-dup components (soft dedup),
  * and a cross-source contamination matrix. Every entry is a SURVEY
  * §2 row with a DuckDB oracle.
  */
object Pipeline5 {

  /** G22: Gopher-style rule filter — the published MassiveText
    * heuristics re-expressed over this corpus's signals: word-count
    * bounds, mean-word-length bounds, minimum stopword hits, minimum
    * alphabetic-word fraction. Emits the per-document signal vector
    * plus the keep verdict so downstream stages can re-threshold
    * without re-scanning text.
    *
    * Scale shape: pure map-side column math (split/filter/regexp) —
    * zero exchanges, streams at scan speed; at 100 TB this is a
    * single pass with the keep flag feeding a pushed-down filter in
    * the consumer.
    *
    * Both engines compare the ROUNDED ratios, so boundary decisions
    * cannot diverge on the last double ulp.
    */
  def txGopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables(spark, dir).documents)

  /** The four Gopher signals over a text column, as named columns —
    * ratios are ROUNDED before any comparison so both engines make
    * identical boundary decisions. Shared by the registry row and
    * the composed M11 pipeline (which needs the signals inline, not
    * behind a corpus join).
    */
  private[queries] def gopherSignalCols(text: Column): Seq[(String, Column)] = {
    val toks = TextOps.tokens(text)
    val nWords = size(toks).cast("long")
    val charsNoWs = length(regexp_replace(text, "\\s", ""))
    val meanWl = round(charsNoWs.cast("double") / nWords.cast("double"), 4)
    val stopHits = TextOps.hitCount(TextOps.tokens(lower(text)),
      TextOps.Stopwords.head._2)
    val alphaWords = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast("long")
    val alphaFrac = round(alphaWords.cast("double") / nWords.cast("double"), 4)
    Seq("n_words" -> nWords, "mean_word_len" -> meanWl,
      "stop_hits" -> stopHits, "alpha_frac" -> alphaFrac)
  }

  /** The rule conjunction over already-computed signal columns. */
  private[queries] def gopherKeep(
      nWords: Column, meanWl: Column, stopHits: Column, alphaFrac: Column): Column =
    nWords.between(30L, 1000L) && meanWl.between(3.0, 10.0) &&
      stopHits >= 2L && alphaFrac >= 0.8

  /** Library form over any (doc_id, lang, text) frame. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val sig = gopherSignalCols(col("text"))
    docs.select(col("doc_id") +: col("lang") +:
        sig.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep",
        gopherKeep(col("n_words"), col("mean_word_len"),
          col("stop_hits"), col("alpha_frac")))
  }

  val txGopherRulesSql: String = {
    val stop = TextOps.Stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
       |    length(regexp_replace(text, '\\s', '', 'g')) AS cnw,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |      w -> list_contains([$stop], w))) AS BIGINT) AS stop_hits,
       |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, n_words,
       |    round(CAST(cnw AS DOUBLE) / CAST(n_words AS DOUBLE), 4) + 0 AS mean_word_len,
       |    stop_hits,
       |    round(CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE), 4) + 0 AS alpha_frac
       |  FROM s)
       |SELECT doc_id, lang, n_words, mean_word_len, stop_hits, alpha_frac,
       |  (n_words BETWEEN 30 AND 1000 AND mean_word_len BETWEEN 3.0 AND 10.0
       |   AND stop_hits >= 2 AND alpha_frac >= 0.8) AS keep
       |FROM r""".stripMargin
  }

  /** N11: DSIR-style importance weight — score every document by the
    * mean log-likelihood ratio of its hashed word features under a
    * target-domain unigram model vs the raw-corpus model (the
    * data-selection-via-importance-resampling recipe, with the
    * published hashed-n-gram feature space shrunk to a closed-form
    * per-word bucket both engines can replicate exactly:
    * `(len(w)·31 + first-codepoint) mod nBuckets`).
    *
    * Scale shape — the "tiny model, map-only scorer" pattern: the
    * model is ONE aggregate whose map-side combine collapses every
    * partition to ≤ nBuckets rows before its exchange, collected as
    * nBuckets doubles (aggregate-sized, like the k-means centroids)
    * and inlined into the scoring expression as a literal array. The
    * scoring pass is then zero-shuffle column math — at 100 TB the
    * corpus is scanned twice (model, score) and shuffled never; a
    * larger hashed feature space (1e5 buckets) still broadcasts as a
    * sub-megabyte literal.
    */
  def smImportanceWeight(spark: SparkSession, dir: String): DataFrame = {
    val nonEmpty = Tables(spark, dir).documents
      .filter(length(trim(col("text"))) > 0)
    nonEmpty.select(
      col("doc_id"), col("lang"),
      importanceScore(cachedModel(spark, dir), 64, col("text")).as("weight"))
  }

  /** Session-scoped model memo (same immutable-sf-dir contract as
    * the pairs/CC caches): the N11 registry row, the N12 resample,
    * and the M11 composed report all score under ONE fitted model —
    * fitting it once per (session, dir) instead of per invocation.
    */
  private def cachedModel(spark: SparkSession, dir: String): Array[Double] =
    graft.util.SessionStage.value(spark, dir, "importance_model")(
      importanceModel(
        Tables(spark, dir).documents.filter(length(trim(col("text"))) > 0),
        targetSource = "src0", nBuckets = 64))

  private def bucketCol(w: Column, nBuckets: Int): Column =
    pmod(length(w) * lit(31) + ascii(w), lit(nBuckets))

  /** Fit the smoothed LLR model: one aggregate whose map-side
    * combine collapses every partition to ≤ nBuckets rows, collected
    * as nBuckets doubles. Add-one smoothing on numerators,
    * bucket-count smoothing on denominators — the DSIR formulation.
    */
  def importanceModel(docs: DataFrame, targetSource: String, nBuckets: Int): Array[Double] = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val counts = docs
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      .select(col("source"), bucketCol(col("w"), nBuckets).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("raw"),
        count(when(col("source") === targetSource, 1)).as("tgt"))
      .collect() // ≤ nBuckets rows — the aggregate-sized model
    val raw = Array.fill(nBuckets)(0L)
    val tgt = Array.fill(nBuckets)(0L)
    counts.foreach { r =>
      val b = r.getInt(0)
      raw(b) = r.getLong(1)
      tgt(b) = r.getLong(2)
    }
    val rawTot = raw.sum.toDouble
    val tgtTot = tgt.sum.toDouble
    Array.tabulate(nBuckets) { b =>
      math.log((tgt(b) + 1).toDouble / (tgtTot + nBuckets)) -
        math.log((raw(b) + 1).toDouble / (rawTot + nBuckets))
    }
  }

  /** Zero-shuffle scoring column: mean LLR of the text's hashed word
    * buckets under the inlined literal model (left-to-right fold, so
    * the oracle's identical fold reproduces the exact doubles).
    */
  def importanceScore(lr: Array[Double], nBuckets: Int, text: Column): Column = {
    val toks = TextOps.tokens(text)
    val lrArr = array(lr.toIndexedSeq.map(lit(_)): _*)
    round(
      aggregate(
        transform(toks, w => element_at(lrArr, bucketCol(w, nBuckets) + lit(1))),
        lit(0.0), (acc, x) => acc + x) / size(toks).cast("double"),
      4)
  }

  /** Library form: weight docs toward `targetSource`'s word-bucket
    * distribution. Requires non-empty trimmed text (enforced here so
    * the degenerate empty-split token can't diverge across engines).
    */
  def importanceWeight(docs: DataFrame, targetSource: String, nBuckets: Int): DataFrame = {
    val nonEmpty = docs.filter(length(trim(col("text"))) > 0)
    val lr = importanceModel(nonEmpty, targetSource, nBuckets)
    nonEmpty.select(
      col("doc_id"), col("lang"),
      importanceScore(lr, nBuckets, col("text")).as("weight"))
  }

  /** The oracle rebuilds the same model in SQL and scores with the
    * same left-to-right fold, so the only cross-engine surface is
    * libm's `ln` (≤ 1 ulp, absorbed by the 4-dp rounding).
    */
  val smImportanceWeightSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0),
      |w AS (
      |  SELECT source, unnest(list_transform(t,
      |    x -> (length(x) * 31 + ascii(x)) % 64)) AS b
      |  FROM toks),
      |counts AS (
      |  SELECT b, count(*) AS raw, count(*) FILTER (source = 'src0') AS tgt
      |  FROM w GROUP BY b),
      |filled AS (
      |  SELECT g.b, coalesce(c.raw, 0) AS raw, coalesce(c.tgt, 0) AS tgt
      |  FROM range(0, 64) AS g(b) LEFT JOIN counts c ON c.b = g.b),
      |tot AS (SELECT CAST(sum(raw) AS DOUBLE) AS rt,
      |               CAST(sum(tgt) AS DOUBLE) AS tt FROM filled),
      |model AS (
      |  SELECT list(ln(CAST(tgt + 1 AS DOUBLE) / (tt + 64))
      |             - ln(CAST(raw + 1 AS DOUBLE) / (rt + 64)) ORDER BY b) AS lr
      |  FROM filled, tot)
      |SELECT doc_id, lang,
      |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(t, x -> lr[(length(x) * 31 + ascii(x)) % 64 + 1])),
      |    (a, v) -> a + v) / len(t), 4) + 0 AS weight
      |FROM toks, model""".stripMargin

  /** N12: DSIR selection step — Gumbel top-k sampling without
    * replacement ∝ exp(weight): key = weight − ln(−ln(u)) with u a
    * closed-form per-doc uniform from the shared LCG mix, so any
    * engine (and any rerun) reproduces the same sample. The
    * exponential-race equivalence makes this a true weighted sample
    * without replacement, yet fully deterministic.
    *
    * Scale shape: the key is map-side arithmetic on top of the N11
    * zero-shuffle scorer; top-k short-circuits as TakeOrdered
    * (per-partition heaps + a k-row driver merge) — no global sort
    * exchange, k bounds driver memory.
    */
  def smImportanceResample(spark: SparkSession, dir: String): DataFrame = {
    val base = smImportanceWeight(spark, dir)
    val P = 1000000007L
    val mix = (pmod(col("doc_id"), lit(P)) * lit(2654435761L) + lit(1013904223L)) % lit(P)
    val u = (mix.cast("double") + lit(0.5)) / lit(P.toDouble)
    base
      .withColumn("gkey", col("weight") - log(-log(u)))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("lang"), col("weight"),
        round(col("gkey"), 4).as("gkey"))
  }

  /** Selection boundary safety: adjacent keys differ by ~1e-3 while
    * the only cross-engine surface (libm `ln`) moves them ~1 ulp, so
    * the top-100 SET cannot diverge; the emitted key is rounded like
    * every other double column.
    */
  val smImportanceResampleSql: String =
    s"""SELECT doc_id, lang, weight, round(gkey, 4) + 0 AS gkey FROM (
       |  SELECT doc_id, lang, weight,
       |    weight - ln(-ln(
       |      (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007
       |        + 0.5) / 1000000007)) AS gkey
       |  FROM ($smImportanceWeightSql) w) x
       |ORDER BY gkey DESC, doc_id LIMIT 100""".stripMargin

  /** E18: soft dedup — instead of dropping near-duplicates, assign
    * every document the weight 1/|its near-dup component| (the
    * duplicate-down-weighting alternative the data-constrained
    * scaling literature recommends when corpus volume is the
    * bottleneck). Components come from the same cached E6 connected
    * components over the E4 n-gram Jaccard pairs; documents in no
    * pair are singleton components with weight 1.
    *
    * Scale shape: component sizes are derived from the LABELS alone
    * (every CC member appears in the label table by construction —
    * the components are built over the pair edges), so the corpus
    * side never shuffles at all: the near-dup-member-sized
    * (doc_id, component, comp_size) table broadcasts onto the scan
    * and the default weight 1 fills the singleton majority. The
    * pairs/CC cost itself is the E2/E4/E6 bucketed path, O(log n)
    * rounds.
    */
  def ddSoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val labels = LlmQueries.ccLabels(spark, dir)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("comp_size"))
    val wtab = labels.join(broadcast(sizes), Seq("component"))
      .select(col("node").as("doc_id"), col("component"), col("comp_size"))
    t.documents.select(col("doc_id"))
      .join(broadcast(wtab), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"),
        coalesce(col("comp_size"), lit(1L)).as("comp_size"))
      .withColumn("weight", round(lit(1.0) / col("comp_size").cast("double"), 4))
  }

  val ddSoftDedupSql: String =
    s"""WITH RECURSIVE pairs AS (${LlmQueries.ddNgramJaccardSql}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (SELECT a AS node, least(a, min(b)) AS component
       |           FROM reach GROUP BY a),
       |comp AS (
       |  SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN labels l ON l.node = d.doc_id),
       |sized AS (
       |  SELECT doc_id, component,
       |    CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS comp_size
       |  FROM comp)
       |SELECT doc_id, component, comp_size,
       |  round(CAST(1 AS DOUBLE) / CAST(comp_size AS DOUBLE), 4) + 0 AS weight
       |FROM sized""".stripMargin

  /** E19: cross-source contamination matrix — for every pair of
    * sources, the number of distinct word bigrams they share (the
    * audit that catches a benchmark or crawl slice leaking across
    * nominally-independent corpus slices before mixing weights are
    * trusted).
    *
    * Scale shape: candidate width is bounded by DISTINCT SOURCES per
    * bigram (≤ |sources|), never by document pairs — each bigram's
    * source set is collapsed by a map-side-combined `collect_set`,
    * pairs fan out per bigram as |sources|²/2 at worst, and the pair
    * counts aggregate map-side again. Two exchanges total: one on
    * bigram, one tiny on (src_a, src_b). Never all-pairs over docs.
    */
  def ddSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables(spark, dir).documents)

  /** Library form over any (source, text) frame. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("source"),
      explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
    val sets = bg.groupBy(col("bigram"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    // All ordered pairs (srcs[i], srcs[j]) with i < j from each
    // sorted source set: sorted input means src_a < src_b holds by
    // construction.
    val combos = flatten(transform(col("srcs"), (a, i) =>
      transform(
        slice(col("srcs"), i + lit(2), size(col("srcs")) - i - lit(1)),
        b => struct(a.as("src_a"), b.as("src_b")))))
    sets.select(explode(combos).as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  val ddSourceOverlapSql: String =
    """WITH toks AS (
      |  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT DISTINCT source, bigram FROM (
      |    SELECT source, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1]))) AS bigram
      |    FROM toks) x)
      |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      |FROM bg a JOIN bg b ON a.bigram = b.bigram AND a.source < b.source
      |GROUP BY 1, 2""".stripMargin

  /** M11: composed curation report — the G22 rule filter, E18 soft
    * weights, and N11 importance scores fused into one per-source
    * summary (docs, kept docs, soft-weighted effective token mass of
    * the kept set, mean importance of the kept set). The shape a
    * mixture designer reads before setting sampling weights.
    *
    * Scale shape: everything is computed INLINE on one corpus scan —
    * the Gopher signals and the DSIR score are map-side column math
    * (the model is the N11 aggregate-sized literal), the soft
    * weights arrive by broadcast from the label-derived table, and
    * the only corpus exchange is the final 20-row source rollup. No
    * corpus-sized join anywhere.
    */
  def pipeCurateCorpus(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents.filter(length(trim(col("text"))) > 0)
    val lr = cachedModel(spark, dir)
    val labels = LlmQueries.ccLabels(spark, dir)
    val sizes = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("comp_size"))
    val wtab = labels.join(broadcast(sizes), Seq("component"))
      .select(col("node").as("doc_id"),
        round(lit(1.0) / col("comp_size").cast("double"), 4).as("sw"))
    val sig = gopherSignalCols(col("text"))
    val scored = docs
      .join(broadcast(wtab), Seq("doc_id"), "left")
      .select(col("source") +: coalesce(col("sw"), lit(1.0)).as("sw") +:
        importanceScore(lr, 64, col("text")).as("imp") +:
        sig.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep",
        gopherKeep(col("n_words"), col("mean_word_len"),
          col("stop_hits"), col("alpha_frac")))
    // Aggregate EXACT integer fixed-point (×10⁴) images of the
    // 4-dp-rounded per-doc terms: long sums are order-independent,
    // so the one trailing division is the only float op and both
    // engines round the same rational. (A plain double sum's
    // partition-order error can flip the 4th decimal on a half-way
    // boundary — observed on avg_importance at sf0.001.)
    val swi = round(col("sw") * 10000.0).cast("long")
    val impi = round(col("imp") * 10000.0).cast("long")
    scored.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      count(when(col("keep"), 1)).as("n_kept"),
      round(coalesce(sum(when(col("keep"), col("n_words") * swi)), lit(0L))
        .cast("double") / 10000.0, 4).as("eff_tokens"),
      round(sum(when(col("keep"), impi)).cast("double") /
        (count(when(col("keep"), 1)) * 10000L).cast("double"), 4)
        .as("avg_importance"))
  }

  val pipeCurateCorpusSql: String = {
    val stop = TextOps.Stopwords.head._2.map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE pairs AS (${LlmQueries.ddNgramJaccardSql}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (SELECT a AS node, least(a, min(b)) AS component
       |           FROM reach GROUP BY a),
       |csizes AS (SELECT component, count(*) AS comp_size FROM labels GROUP BY 1),
       |wtab AS (
       |  SELECT l.node AS doc_id,
       |    round(CAST(1 AS DOUBLE) / CAST(s.comp_size AS DOUBLE), 4) AS sw
       |  FROM labels l JOIN csizes s USING (component)),
       |toks AS (
       |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t,
       |    text
       |  FROM documents WHERE length(trim(text)) > 0),
       |wrds AS (
       |  SELECT source, unnest(list_transform(t,
       |    x -> (length(x) * 31 + ascii(x)) % 64)) AS b
       |  FROM toks),
       |counts AS (
       |  SELECT b, count(*) AS raw, count(*) FILTER (source = 'src0') AS tgt
       |  FROM wrds GROUP BY b),
       |filled AS (
       |  SELECT g.b, coalesce(c.raw, 0) AS raw, coalesce(c.tgt, 0) AS tgt
       |  FROM range(0, 64) AS g(b) LEFT JOIN counts c ON c.b = g.b),
       |tot AS (SELECT CAST(sum(raw) AS DOUBLE) AS rt,
       |               CAST(sum(tgt) AS DOUBLE) AS tt FROM filled),
       |model AS (
       |  SELECT list(ln(CAST(tgt + 1 AS DOUBLE) / (tt + 64))
       |             - ln(CAST(raw + 1 AS DOUBLE) / (rt + 64)) ORDER BY b) AS lr
       |  FROM filled, tot),
       |sig AS (
       |  SELECT doc_id, source,
       |    CAST(len(t) AS BIGINT) AS n_words,
       |    round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
       |      / CAST(len(t) AS DOUBLE), 4) AS mean_word_len,
       |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |      w -> list_contains([$stop], w))) AS BIGINT) AS stop_hits,
       |    round(CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
       |      AS DOUBLE) / CAST(len(t) AS BIGINT), 4) AS alpha_frac,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(t, x -> lr[(length(x) * 31 + ascii(x)) % 64 + 1])),
       |      (a, v) -> a + v) / len(t), 4) AS imp
       |  FROM toks, model),
       |scored AS (
       |  SELECT s.source, s.n_words, coalesce(w.sw, 1.0) AS sw, s.imp,
       |    (s.n_words BETWEEN 30 AND 1000 AND s.mean_word_len BETWEEN 3.0 AND 10.0
       |     AND s.stop_hits >= 2 AND s.alpha_frac >= 0.8) AS keep
       |  FROM sig s LEFT JOIN wtab w USING (doc_id))
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
       |  round(CAST(coalesce(
       |      sum(n_words * CAST(round(sw * 10000) AS BIGINT)) FILTER (keep), 0)
       |    AS DOUBLE) / 10000.0, 4) + 0 AS eff_tokens,
       |  round(CAST(sum(CAST(round(imp * 10000) AS BIGINT)) FILTER (keep) AS DOUBLE)
       |    / CAST(count(*) FILTER (keep) * 10000 AS DOUBLE), 4) + 0
       |    AS avg_importance
       |FROM scored GROUP BY source""".stripMargin
  }
}
