package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 extension batch: retrieval scoring, cross-document
  * duplication signals, and curriculum staging — the remaining
  * training-data-pipeline surfaces on the documents table. Every
  * entry is a SURVEY §2 row with a DuckDB oracle.
  */
object Pipeline3 {

  /** G20: BM25 top-k retrieval for a fixed query-term set
    * (reference: the sector queries' keyword-filter semantics,
    * queries.yml — re-expressed as ranked retrieval instead of a
    * boolean filter). Map-only per-doc tf/dl via array functions (no
    * explode), one 1-row stats reduction broadcast back, top-k via
    * per-partition heaps.
    */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "window", "stream")

  def txBm25(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextOps.bm25TopK(
      Tables(spark, dir).documents, "text", "doc_id", Bm25Terms)

  /** The SQL mirrors the Scala expression tree token-for-token
    * (`a * b / c` association, left-to-right `+` chain over the
    * query terms) so both engines run the same IEEE operation order.
    */
  val txBm25Sql: String = bm25SqlFor(20)

  private[queries] def bm25SqlFor(k: Int): String = {
    val tfDefs = Bm25Terms
      .map(t => s"CAST(len(list_filter(t, x -> x = '$t')) AS DOUBLE) AS tf_$t")
      .mkString(",\n      |  ")
    val dfDefs = Bm25Terms
      .map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
      .mkString(",\n      |  ")
    val contrib = Bm25Terms
      .map(t =>
        s"ln(1.0 + (n - df_$t + 0.5) / (df_$t + 0.5)) * (tf_$t * 2.2) / " +
          s"(tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))")
      .mkString("\n      |    + ")
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      |  FROM documents),
      |per AS (
      |  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
      |  $tfDefs
      |  FROM toks),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
      |  $dfDefs
      |  FROM per)
      |SELECT doc_id, round(
      |    $contrib, 4) + 0 AS bm25
      |FROM per CROSS JOIN stats
      |ORDER BY bm25 DESC, doc_id LIMIT $k""".stripMargin
  }

  /** G21: cross-document duplicated n-gram fraction — for each doc,
    * the share of its DISTINCT word 5-grams that also occur in at
    * least one other document (the MassiveText/Dolma "duplicate
    * n-gram fraction" quality signal, distinct-shingle form).
    * Shuffle profile: shingle hashes (8 B each, via the codegen'd
    * NgramXxHashes) move once to count document frequency, the
    * duplicated subset joins back on the hash, and one doc_id
    * aggregation closes — no raw text ever shuffles.
    */
  def txDupNgramFrac(spark: SparkSession, dir: String): DataFrame =
    dupNgramFrac(Tables(spark, dir).documents)

  /** Library form over any (doc_id, text) frame.
    *
    * Staged boundary (same pattern as E2's signature build): `base`
    * feeds BOTH the exploded doc-frequency subtree and the
    * `size(hs)` denominator subtree, and without a materialization
    * boundary Spark re-evaluates the shingle hashing — the expensive
    * expression — once per consumer. `persist(DISK_ONLY)` pins the
    * hashes-only projection (doc_id + 8 B/shingle, no raw text) so
    * the corpus is scanned and hashed once; at 100 TB that halves
    * the dominant cost of this query. persist over localCheckpoint
    * deliberately: it is LAZY (plan-only consumers — PlanGuardSpec,
    * explain — trigger no job) and keeps lineage, so an executor
    * loss recomputes the lost partitions instead of failing the
    * query (localCheckpoint stores unreplicated blocks); this
    * subtree is one scan deep, so lineage truncation — the reason
    * the iterative CC rounds DO use localCheckpoint — buys nothing.
    * Note: CacheManager matches by plan, so repeat invocations in
    * one session reuse the first materialization — INTENDED, the
    * same session-materialized-view semantics as the SessionStage-held
    * shingle/CC subtrees (E4/E6/M6), and the blocks are disk-only
    * and bounded by one hashed-corpus projection per sf dir.
    */
  def dupNgramFrac(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      graft.functions.NgramXxHashes(col("text"), 5).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sh = base.select(col("doc_id"), explode(col("hs")).as("h"))
    // `sh` is distinct per (doc, shingle) by construction, so the
    // document frequency of a shingle is a plain count.
    val dupHashes = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"))
    val dup = sh.join(dupHashes, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup"))
    base
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_ngrams"))
      .join(dup, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(
          when(col("n_ngrams") === 0, 0.0)
            .otherwise(
              coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_ngrams")),
          4).as("dup_frac"))
  }

  val txDupNgramFracSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 4, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS s
      |  FROM toks),
      |szs AS (SELECT doc_id, count(*) AS n_ngrams FROM sh GROUP BY 1),
      |nd AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2),
      |dup AS (SELECT doc_id, count(*) AS n_dup FROM sh JOIN nd USING (s) GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(z.n_ngrams, 0) AS BIGINT) AS n_ngrams,
      |  CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
      |  round(CASE WHEN coalesce(z.n_ngrams, 0) = 0 THEN 0.0
      |        ELSE CAST(coalesce(p.n_dup, 0) AS DOUBLE) / z.n_ngrams END, 4) + 0 AS dup_frac
      |FROM documents d
      |LEFT JOIN szs z USING (doc_id)
      |LEFT JOIN dup p USING (doc_id)""".stripMargin

  /** F7: hybrid retrieval — BM25 candidates (G20, top-50) fused
    * with cosine candidates against the vec_id-0 query embedding
    * (top-50) by reciprocal-rank fusion, top-10 out. Both candidate
    * lists are heap-bounded before any window or join touches them,
    * so the fusion stage is constant-size regardless of corpus
    * scale; ranks derive from (rounded score, id) in BOTH engines,
    * which keeps the integer ranks — and therefore the fused scores
    * — bit-deterministic.
    */
  def simHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val n = 50
    // Windows below are unpartitioned BY DESIGN: their input is the
    // already-limited candidate list (≤ n rows), not the corpus.
    val lex = graft.operators.TextOps
      .bm25TopK(t.documents, "text", "doc_id", Bm25Terms, k = n)
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id").as("id"), col("r_lex"))
    val q = t.embeddings.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
    val vec = t.embeddings
      .crossJoin(broadcast(q))
      .select(
        col("vec_id").as("id"),
        round(graft.operators.Similarity.cosine(col("embedding"), col("qv")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("id"))
      .limit(n)
      .withColumn("r_vec",
        row_number().over(Window.orderBy(col("cos").desc, col("id"))).cast("long"))
      .select(col("id"), col("r_vec"))
    graft.operators.Similarity.rrfFuse(lex, vec, k = 10)
  }

  val simHybridRrfSql: String =
    s"""WITH lex0 AS (${bm25SqlFor(50)}),
      |lex AS (SELECT doc_id AS id,
      |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex
      |  FROM lex0),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |cos0 AS (
      |  SELECT b.vec_id AS id,
      |    round(
      |      list_sum(list_transform(list_zip(b.embedding, q.qv),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |      4) + 0 AS cos
      |  FROM embeddings b, q
      |  ORDER BY cos DESC, id LIMIT 50),
      |vec AS (SELECT id,
      |    CAST(row_number() OVER (ORDER BY cos DESC, id) AS BIGINT) AS r_vec
      |  FROM cos0)
      |SELECT coalesce(lex.id, vec.id) AS id,
      |  round(coalesce(1.0 / (60.0 + CAST(r_lex AS DOUBLE)), 0.0)
      |      + coalesce(1.0 / (60.0 + CAST(r_vec AS DOUBLE)), 0.0), 6) + 0 AS rrf,
      |  CAST(coalesce(r_lex, 0) AS BIGINT) AS r_lex,
      |  CAST(coalesce(r_vec, 0) AS BIGINT) AS r_vec
      |FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
      |ORDER BY rrf DESC, id LIMIT 10""".stripMargin

  /** E17: canonical representative per near-dup cluster — the keep
    * decision that turns E6's connected components into an actual
    * dedup: per component keep the longest doc (n_chars, tie →
    * lowest id). Consumes the session-cached CC labels (third
    * consumer of one subtree build). The keep decision is a pure
    * aggregation — `max_by` over the orderable struct
    * (n_chars, -node) — so it map-side-combines and never sorts a
    * component's members: one exchange on component, no Window, and
    * a pathological giant dup cluster (shared boilerplate) costs a
    * running max instead of a per-key sort.
    */
  def ddClusterRep(spark: SparkSession, dir: String): DataFrame = {
    val labels = LlmQueries.ccLabels(spark, dir) // (node, component)
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("n_chars"))
    val rank = struct(col("n_chars"), -col("node")) // max ⇔ longest, tie lowest id
    labels
      .join(docs, labels("node") === docs("doc_id"))
      .select(col("component"), col("node"), col("n_chars"))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        max_by(col("node"), rank).as("rep_doc"),
        max(col("n_chars")).as("rep_chars"))
  }

  val ddClusterRepSql: String =
    s"""WITH RECURSIVE pairs AS (${LlmQueries.ddNgramJaccardSql}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |j AS (SELECT c.component, c.node, d.n_chars
       |      FROM comp c JOIN documents d ON d.doc_id = c.node),
       |r AS (SELECT component, node, n_chars,
       |        row_number() OVER (PARTITION BY component
       |          ORDER BY n_chars DESC, node) AS rk
       |      FROM j)
       |SELECT component,
       |  CAST(count(*) AS BIGINT) AS n_members,
       |  max(CASE WHEN rk = 1 THEN node END) AS rep_doc,
       |  max(CASE WHEN rk = 1 THEN n_chars END) AS rep_chars
       |FROM r GROUP BY component""".stripMargin

  /** D39: PSI distribution drift — population stability index of the
    * `value` distribution between a reference segment ('view') and a
    * current segment ('purchase'), over 10 fixed-width bins with
    * +0.5 additive smoothing (so empty bins contribute finitely).
    * One tiny (≤10-row post-agg) shuffle; the bin scaffold is
    * generated, not derived, so both engines emit all 10 rows even
    * for empty inputs. Fixed bin edges are what make the pass
    * single-scan at scale — a quantile-based binning would need a
    * pre-pass.
    */
  def qPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ev = t.events
      .filter(col("event_type").isin("view", "purchase"))
      .select(
        col("event_type"),
        least(floor(col("value") / 33.0), lit(9.0)).cast("long").as("bin"))
    val counts = ev.groupBy(col("bin")).agg(
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c_ref"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c_cur"))
    val bins = spark.range(10).select(col("id").as("bin"))
    val filled = bins
      .join(counts, Seq("bin"), "left")
      .select(
        col("bin"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val tot = filled.agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
    def p(c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      (c.cast("double") + 0.5) / (n.cast("double") + 5.0)
    filled
      .crossJoin(broadcast(tot))
      .select(
        col("bin"),
        col("c_ref"),
        col("c_cur"),
        round(
          (p(col("c_ref"), col("n_ref")) - p(col("c_cur"), col("n_cur"))) *
            log(p(col("c_ref"), col("n_ref")) / p(col("c_cur"), col("n_cur"))),
          6).as("psi_contrib"))
  }

  val qPsiDriftSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(least(floor(value / 33.0), 9.0) AS BIGINT) AS bin
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |counts AS (
      |  SELECT bin,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
      |  FROM ev GROUP BY 1),
      |bins AS (SELECT range AS bin FROM range(0, 10)),
      |filled AS (
      |  SELECT b.bin, coalesce(c.c_ref, 0) AS c_ref, coalesce(c.c_cur, 0) AS c_cur
      |  FROM bins b LEFT JOIN counts c USING (bin)),
      |tot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
      |               CAST(sum(c_cur) AS BIGINT) AS n_cur FROM filled)
      |SELECT bin, c_ref, c_cur,
      |  round(((CAST(c_ref AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0)
      |        - (CAST(c_cur AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))
      |      * ln(((CAST(c_ref AS DOUBLE) + 0.5) / (CAST(n_ref AS DOUBLE) + 5.0))
      |         / ((CAST(c_cur AS DOUBLE) + 0.5) / (CAST(n_cur AS DOUBLE) + 5.0))), 6) + 0
      |    AS psi_contrib
      |FROM filled CROSS JOIN tot""".stripMargin

  /** N8: curriculum staging — shortest-first stages cut at fixed
    * token-count thresholds, with a deterministic within-stage
    * shuffle key from the shared LCG mix (same arithmetic as
    * sm_split_assign, so any engine reproduces the order). Fixed
    * thresholds instead of ntile: no global sort, no 4-partition
    * window skew — the whole assignment is map-only and a training
    * reader just sorts by (stage, ord). Thresholds 32/56/76 are the
    * corpus quartiles at generation time; they are parameters, not
    * data-derived at run time, which is what keeps the pass
    * single-scan at 100 TB.
    */
  def smCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val dl = size(split(lower(trim(col("text"))), "\\s+"))
    val ord =
      (pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L) + lit(1013904223L)) %
        lit(1000000007L)
    docs.select(
      col("doc_id"),
      dl.cast("long").as("n_tokens"),
      when(dl < 32, 1).when(dl < 56, 2).when(dl < 76, 3).otherwise(4)
        .cast("long").as("stage"),
      ord.as("ord"))
  }

  val smCurriculumSql: String =
    """SELECT doc_id,
      |  CAST(dl AS BIGINT) AS n_tokens,
      |  CAST(CASE WHEN dl < 32 THEN 1 WHEN dl < 56 THEN 2
      |            WHEN dl < 76 THEN 3 ELSE 4 END AS BIGINT) AS stage,
      |  (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) AS ord
      |FROM (SELECT doc_id,
      |        len(regexp_split_to_array(lower(trim(text)), '\s+')) AS dl
      |      FROM documents) x""".stripMargin
}
