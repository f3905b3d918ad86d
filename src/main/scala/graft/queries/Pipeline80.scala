package graft.queries

import graft.Tables
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-13 batch: measurement → hardening. The r12 eval rows
  * exposed two honest weaknesses — the unigram SimHash collapses on
  * templated corpora (43k hamming-0 pairs corpus-wide at sf0.1, one
  * hot LSH bucket gone quadratic) and label-cell IVF recalls 28% at
  * nprobe=2 — so r13 ships the fixes AND re-measures them under the
  * oracle hash: a hot-bucket cap + shingled fingerprint for SimHash
  * (E36), a k-means-TRAINED coarse quantizer swept against label
  * cells at nprobe ∈ {1,2,4} (F19), and the incremental dedup
  * signature store replayed into the correctness gate (E37, the H20
  * mode-replay pattern).
  */
object Pipeline80 {

  // ----------------------------------------------------------------
  // E36 dd_simhash_eval2
  // ----------------------------------------------------------------

  /** E36 `dd_simhash_eval2`: the CORPUS-WIDE SimHash eval the r12
    * panel row (E34) could not afford — affordable now because the
    * operator's r13 hot-bucket cap (maxBucket=100, the E4 df≤100
    * convention) bounds candidate generation to
    * maxBucket·nBands·N even where the fingerprint collapses.
    * Two fingerprint variants run side by side against E4's exact
    * 3-gram-Jaccard≥0.5 truth: the r12 unigram simhash and the r13
    * word-3-gram [[graft.operators.Dedup.simhashShingled]] whose
    * order-aware features keep templated text from clumping at
    * hamming 0. Per variant the row states candidates, truth size,
    * overlap AND `n_dropped_buckets` — the cap is stated semantics,
    * logged in the result, not a silent heuristic. All five numbers
    * sit under the DuckDB hash (both fingerprints, the banding, the
    * cap and the truth join are restated in SQL exactly).
    *
    * Scale shape: one fingerprint map pass per variant; the only
    * wide ops are the (band, key) width-window + self-join (same
    * hash partitioning, one exchange) — per-bucket work is
    * cap-bounded so no straggler task exists at any corpus size.
    */
  def ddSimhashEval2(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val truth = LlmQueries.ngramPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("tr"))
    // The fingerprint HOF is the row's real work; the sf parquet is
    // one input split, so fan the docs out first (the K7 id-list
    // lesson — here the payload IS the row, ~600 KB, so the exchange
    // is trivial; at lake scale the source has native splits and the
    // OPERATOR adds no repartition).
    val docs = t.documents.select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
    // ONE signing scan for BOTH variants (r14, the verdict's #1 ask):
    // the unigram and shingle3 fingerprints are computed side by side
    // in a single projection over one pass of the corpus text and the
    // 20-byte/doc (doc_id, sh_u, sh_s, ntok) table is checkpointed —
    // each variant bands from it instead of re-signing the corpus.
    val staged = docs.select(col("doc_id"),
        Dedup.simhash(col("text")).as("sh_u"),
        Dedup.simhashShingled(col("text"), 3).as("sh_s"),
        size(split(lower(trim(col("text"))), "\\s+")).as("ntok"))
      .localCheckpoint(true)
    def variant(name: String, shingle: Int): DataFrame = {
      // Band rows derive from the checkpointed fingerprints — cheap
      // column math, so the per-variant banded checkpoint of r13 is
      // gone; the shingled variant keeps simhashBands' empty-set
      // exclusion (ntok >= shingle).
      val fp =
        if (shingle <= 1) staged.select(col("doc_id"), col("sh_u").as("sh"))
        else staged.filter(col("ntok") >= shingle)
          .select(col("doc_id"), col("sh_s").as("sh"))
      val banded = Dedup.simhashBandsFromFp(fp, nBands = 4)
      val cand = Dedup.simhashNearDupFromBands(banded,
          maxHamming = 3, nBands = 4, maxBucket = 100)
        .select(col("doc_a"), col("doc_b"))
      val dropped = banded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") > 100)
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_dropped_buckets"))
      cand.join(truth, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_cand"),
          coalesce(sum(col("tr")), lit(0L)).as("n_overlap"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .crossJoin(broadcast(dropped))
        .select(lit(name).as("variant"), col("n_cand"), col("n_truth"),
          col("n_overlap"), col("n_dropped_buckets"))
    }
    variant("unigram", 1).unionByName(variant("shingle3", 3))
  }

  /** One variant's fingerprint+banding+cap+join SQL: `fpSql` must
    * yield (doc_id, sh). 60-bit fingerprint, 4 bands × 15 bits,
    * radius 3, bucket cap 100.
    */
  private def simhashVariantCtes(tag: String, fpSql: String): String =
    s"""fp_$tag AS ($fpSql),
       |bands_$tag AS (
       |  SELECT doc_id, sh, band, (sh >> (band * 15)) & 32767 AS bkey
       |  FROM fp_$tag, (SELECT unnest(range(0, 4)) AS band) b),
       |widths_$tag AS (
       |  SELECT band, bkey, count(*) AS w FROM bands_$tag GROUP BY 1, 2),
       |capped_$tag AS (
       |  SELECT bb.doc_id, bb.sh, bb.band, bb.bkey
       |  FROM bands_$tag bb JOIN widths_$tag USING (band, bkey) WHERE w <= 100),
       |cand_$tag AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped_$tag a JOIN capped_$tag b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
       |drop_$tag AS (
       |  SELECT count(*) AS n FROM widths_$tag WHERE w > 100)""".stripMargin

  /** Word-3-gram shingled 60-bit simhash (doc_id, sh) — mirrors
    * [[graft.operators.Dedup.simhashShingled]] bit for bit; docs
    * shorter than 3 tokens are excluded (empty shingle set).
    */
  private def shingledFpSql: String = {
    val r = LlmQueries.rollingSql _
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |shing AS (
       |  SELECT doc_id, list_distinct(
       |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS sset
       |  FROM toks WHERE len(t) >= 3),
       |h AS (
       |  SELECT doc_id, list_transform(sset, s ->
       |    (${r("s")} << 30) | ${r("reverse(s)")}) AS hs
       |  FROM shing)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0, 60), bit ->
       |    CASE WHEN list_sum(list_transform(hs,
       |           hv -> CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |         THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS sh
       |FROM h""".stripMargin
  }

  val ddSimhashEval2Sql: String = {
    val uniFp = s"SELECT doc_id, simhash AS sh FROM (${LlmQueries.ddSimhashSql})"
    val shFp = s"SELECT doc_id, sh FROM ($shingledFpSql)"
    def selectRow(name: String, tag: String): String =
      s"""SELECT '$name' AS variant,
         |  CAST((SELECT count(*) FROM cand_$tag) AS BIGINT) AS n_cand,
         |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         |  CAST((SELECT count(*) FROM cand_$tag JOIN truth USING (doc_a, doc_b))
         |    AS BIGINT) AS n_overlap,
         |  CAST((SELECT n FROM drop_$tag) AS BIGINT) AS n_dropped_buckets""".stripMargin
    s"""WITH ${simhashVariantCtes("u", uniFp)},
       |${simhashVariantCtes("s", shFp)},
       |truth AS (
       |  SELECT doc_a, doc_b FROM (${LlmQueries.ddNgramJaccardSql}))
       |${selectRow("unigram", "u")}
       |UNION ALL
       |${selectRow("shingle3", "s")}""".stripMargin
  }

  // ----------------------------------------------------------------
  // F19 sim_ivf_eval2
  // ----------------------------------------------------------------

  /** Session-scoped trained quantizer (k=10 cells — matched to the
    * corpus's 10 labels so label-vs-trained recall compares equal
    * cell counts at equal nprobe; iters=2, F5's Lloyd recipe): the
    * three nprobe sweeps probe ONE training run.
    */
  private def trainedModel(spark: SparkSession, dir: String): (DataFrame, Seq[Seq[Double]]) =
    graft.util.SessionStage.value(spark, dir, "ivf_model") {
      val t = Tables(spark, dir)
      val (assigned, cents) =
        Similarity.kmeansModel(t.embeddings, "vec_id", "embedding", k = 10, iters = 2)
      (assigned.select(col("cluster"), col("id").as("base_id"), col("vec").as("bv"))
        .localCheckpoint(true), cents)
    }

  /** F19 `sim_ivf_eval2`: the r12 `sim_ivf_eval` row MEASURED the
    * weakness (label-cell coarse quantization recalls 28% at
    * nprobe=2 on near-isotropic vectors); this row uses the
    * measurement — F4's IVF search routed through a TRAINED Lloyd
    * quantizer ([[graft.operators.Similarity.ivfAnnTrained]], k=10
    * cells to match the 10 labels, so scan budgets are comparable)
    * and swept against the label-cell variant at nprobe ∈ {1,2,4}.
    * Six (variant, nprobe) rows state exact-top-5 size and recalled
    * count — EXACTLY oracled (both quantizer trajectories, probe
    * selection and in-cell ranking are DuckDB-restated; the F18
    * convention, no gates).
    *
    * Scale shape: training is F5's per-iteration map-only assignment
    * + k·dim aggregate; each probe sweep is the F4 broadcast plan
    * (base table never shuffles); the model trains once per session
    * and the eval joins move ≤ 50 rows per combination.
    */
  def simIvfEval2(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val exact = LlmQueries.simCosineTopk(spark, dir)
      .select(col("query_id"), col("base_id"))
    val queries = t.embeddings.filter(col("vec_id") < 10)
    val (cells, cents) = trainedModel(spark, dir)
    def recallOf(name: String, np: Int, ann: DataFrame): DataFrame =
      exact.join(
          ann.select(col("query_id"), col("base_id"), lit(1L).as("hit")),
          Seq("query_id", "base_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("hit")), lit(0L)).as("n_recalled"))
        .select(lit(name).as("variant"), lit(np.toLong).as("nprobe"),
          col("n_exact"), col("n_recalled"))
    Seq(1, 2, 4).flatMap { np =>
      Seq(
        recallOf("label", np,
          Similarity.ivfAnn(t.embeddings, queries, "vec_id", "embedding", "label",
            nprobe = np, k = 5)),
        recallOf("trained", np,
          Similarity.ivfSearchTrained(cells, cents, queries, "vec_id", "embedding",
            nprobe = np, topK = 5)))
    }.reduce(_ unionByName _)
  }

  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  /** Trained-IVF (query_id, base_id) pairs at `nprobe` — the
    * unrolled k=10 Lloyd CTEs (`a2` rk=1 = cells, `cvec1` = the
    * matrix that produced them) + the F4 probe/rank SQL.
    */
  private def trainedPairsSql(nprobe: Int): String =
    s"""WITH ${LlmQueries.kmeansCtesForOracle(10)},
       |cells AS (SELECT vec_id, cluster FROM a2 WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, cluster FROM (
       |    SELECT q.query_id, c.cluster,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(${cosSql("q.qv", "c.cvec")}, 4) DESC, c.cluster) AS crank
       |    FROM q, cvec1 c) x
       |  WHERE crank <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, m.vec_id AS base_id,
       |    round(${cosSql("q.qv", "e.embedding")}, 4) AS score
       |  FROM probes p
       |  JOIN cells m USING (cluster)
       |  JOIN embeddings e ON e.vec_id = m.vec_id
       |  JOIN q ON q.query_id = p.query_id
       |  WHERE m.vec_id != p.query_id)
       |SELECT query_id, base_id FROM (
       |  SELECT query_id, base_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, base_id) AS rank
       |  FROM scored) x
       |WHERE rank <= 5""".stripMargin

  val simIvfEval2Sql: String = {
    def row(name: String, np: Int, pairsSql: String): String =
      s"""SELECT '$name' AS variant, CAST($np AS BIGINT) AS nprobe,
         |  count(*) AS n_exact,
         |  CAST(coalesce(sum(i.hit), 0) AS BIGINT) AS n_recalled
         |FROM exact_pairs e
         |LEFT JOIN (SELECT query_id, base_id, CAST(1 AS BIGINT) AS hit
         |           FROM ($pairsSql)) i USING (query_id, base_id)""".stripMargin
    val rows = Seq(1, 2, 4).flatMap { np =>
      Seq(
        row("label", np,
          s"SELECT query_id, base_id FROM (${LlmQueries.ivfAnnSqlAt(np)})"),
        row("trained", np, trainedPairsSql(np)))
    }
    s"""WITH exact_pairs AS (
       |  SELECT query_id, base_id FROM (${LlmQueries.simCosineTopkSql}))
       |${rows.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ----------------------------------------------------------------
  // E37 dd_incremental
  // ----------------------------------------------------------------

  /** E37 `dd_incremental`: the incremental MinHash-LSH dedup
    * ([[graft.operators.Dedup.incrementalNearDup]] — the
    * daily-crawl-increment pattern, previously spec-only E21)
    * replayed into the correctness gate, the H20 mode-replay
    * convention: batch 0 (even doc_ids) dedupes against an empty
    * signature store, batch 1 (odd doc_ids) dedupes within itself
    * AND against every signature batch 0 kept — without rescanning
    * batch 0's text. The kept sets of both batches aggregate per
    * (batch, lang); DuckDB restates the full two-batch end state
    * from `documents` alone (signatures, banding, the intra-batch
    * CC survivor rule, the cross-store drop rule, and the
    * short-doc keep-but-don't-store rule). Any drift in the store
    * append, the sentinel handling, or either drop rule breaks the
    * hash.
    *
    * Scale shape: [[graft.operators.Dedup.incrementalNearDup]] —
    * per batch one signing map pass; exchanges are the bucket-
    * bounded (band, bucket) joins (batch×batch, batch×store); the
    * store side reads k·8 B per historical doc, never the corpus.
    */
  def ddIncremental(spark: SparkSession, dir: String): DataFrame = {
    val staged = graft.util.SessionStage.dir(spark, dir, "rt_incdedup") { p =>
      val t = Tables(spark, dir)
      val store = p.resolve("sigstore").toString
      def keep(batch: Int): Unit =
        Dedup.incrementalNearDup(
            t.documents.filter(pmod(col("doc_id"), lit(2)) === batch),
            "text", "doc_id", store)
          .select(col("doc_id"))
          .write.parquet(p.resolve(s"kept$batch").toString)
      keep(0)
      keep(1)
    }
    val t = Tables(spark, dir)
    def keptAgg(batch: Int): DataFrame =
      spark.read.parquet(staged.resolve(s"kept$batch").toString)
        .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .select(lit(batch.toLong).as("batch"), col("lang"),
          col("n_kept"), col("id_sum"))
    keptAgg(0).unionByName(keptAgg(1))
  }

  val ddIncrementalSql: String = {
    val perms = Dedup.permutations(32, 42L)
    val permRows = perms.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(",\n    ")
    val agree = (x: String, y: String) =>
      s"""round(CAST(list_sum(list_transform(range(1, 33),
         |      i -> CASE WHEN $x[i] = $y[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32, 4)""".stripMargin
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(t) - 1),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
       |  FROM toks WHERE len(t) >= 3),
       |shh AS (
       |  SELECT doc_id, ${LlmQueries.rollingSql("s")} AS h FROM sh),
       |perms(i, a, b) AS (VALUES
       |    $permRows),
       |sigs AS (
       |  SELECT doc_id, list(m ORDER BY i) AS sig FROM (
       |    SELECT shh.doc_id, p.i, min((p.a * shh.h + p.b) % 2147483647) AS m
       |    FROM shh CROSS JOIN perms p GROUP BY 1, 2) g
       |  GROUP BY 1),
       |banded AS (
       |  SELECT doc_id, b.band,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b.band*4+1 : b.band*4+4]),
       |      (acc, v) -> (acc * 31 + v) % 2147483647) AS bucket,
       |    sig
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS band) b),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |      AND a.doc_id % 2 = b.doc_id % 2
       |  WHERE ${agree("a.sig", "b.sig")} >= 0.7),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |intra_dropped AS (
       |  SELECT a AS doc_id FROM reach GROUP BY a
       |  HAVING a != least(a, min(b))),
       |intra_kept AS (
       |  SELECT doc_id FROM sigs
       |  WHERE doc_id NOT IN (SELECT doc_id FROM intra_dropped)),
       |kept0 AS (SELECT doc_id FROM intra_kept WHERE doc_id % 2 = 0),
       |cross_dropped AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM banded a JOIN banded s ON a.band = s.band AND a.bucket = s.bucket
       |  WHERE a.doc_id % 2 = 1 AND s.doc_id % 2 = 0
       |    AND a.doc_id IN (SELECT doc_id FROM intra_kept)
       |    AND s.doc_id IN (SELECT doc_id FROM kept0)
       |    AND ${agree("a.sig", "s.sig")} >= 0.7),
       |kept1 AS (
       |  SELECT doc_id FROM intra_kept
       |  WHERE doc_id % 2 = 1
       |    AND doc_id NOT IN (SELECT doc_id FROM cross_dropped)),
       |short_docs AS (SELECT doc_id FROM toks WHERE len(t) < 3),
       |final AS (
       |  SELECT doc_id FROM kept0
       |  UNION ALL SELECT doc_id FROM kept1
       |  UNION ALL SELECT doc_id FROM short_docs)
       |SELECT CAST(d.doc_id % 2 AS BIGINT) AS batch, d.lang,
       |  count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS id_sum
       |FROM final f JOIN documents d ON d.doc_id = f.doc_id
       |GROUP BY 1, 2""".stripMargin
  }
}
