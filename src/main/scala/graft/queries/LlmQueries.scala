package graft.queries

import graft.Tables
import graft.operators.{Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (SURVEY §2 E/F/G/K) exercised
  * over `documents` / `embeddings`.
  */
object LlmQueries {

  // ----------------------------------------------------------------
  // E. Deduplication
  // ----------------------------------------------------------------

  /** E1: exact dedup groups by content digest. */
  def ddExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables(spark, dir).documents, "text", "doc_id")

  val ddExactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** E2: MinHash+LSH candidate pairs. Fully deterministic (fixed
    * permutation seed, integer math), so it has a real SQL oracle:
    * the same rolling-hash shingles, the same (a, b) permutation
    * constants (embedded as literals below), the same band folds.
    */
  def ddMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables(spark, dir).documents, "text", "doc_id")

  /** Rolling hash of a string expression, as oracle SQL — the exact
    * semantics of [[graft.functions.RollingHash]]: fold (h·31 + cp)
    * mod 1e9+7 over codepoints; empty string → 0 (guarded, because
    * `unicode('')` is -1 in the oracle engine while an empty string
    * contributes nothing on the Spark side).
    */
  private[queries] def rollingSql(e: String): String =
    s"""(CASE WHEN $e = '' THEN CAST(0 AS BIGINT) ELSE
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(regexp_split_to_array($e, ''),
       |      c -> CAST(unicode(c) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % 1000000007) END)""".stripMargin

  val ddMinhashLshSql: String = {
    val perms = Dedup.permutations(32, 42L)
    val permRows = perms.zipWithIndex
      .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(t) - 1),
       |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
       |  FROM toks WHERE len(t) >= 3),
       |shh AS (
       |  SELECT doc_id, ${rollingSql("s")} AS h FROM sh),
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
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  round(CAST(list_sum(list_transform(range(1, 33),
       |    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 32, 4)
       |    AS est_jaccard
       |FROM cand""".stripMargin
  }

  /** E3: SimHash fingerprints — deterministic integer math, oracled
    * bit-for-bit (60-bit fingerprint; see [[Dedup.simhash]]).
    */
  def ddSimhash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))

  val ddSimhashSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, list_transform(t, tok ->
       |    (${rollingSql("tok")} << 30) | ${rollingSql("reverse(tok)")}) AS hs
       |  FROM toks)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0, 60), bit ->
       |    CASE WHEN list_sum(list_transform(hs,
       |           hv -> CASE WHEN (hv >> bit) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |         THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END))
       |    AS BIGINT) AS simhash
       |FROM h""".stripMargin

  /** Session-cached UNthresholded shingle intersections (n=3,
    * doc-freq cap 100): one inverted-index build feeds Jaccard (E4
    * and its E6/E7 consumers) AND containment (E16) — the scorers
    * are cheap column math over this candidate table. Candidate
    * width is maxDocFreq-bounded, so the checkpoint is pair-sized.
    */
  private[queries] def shingleInter(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionStage.value(spark, dir, "shingle_inter")(
      Dedup.shingleIntersections(Tables(spark, dir).documents, "text", "doc_id",
        n = 3, maxDocFreq = 100).localCheckpoint(true))

  /** Session-scoped materialization of the Jaccard candidate pairs:
    * three registry queries (E4, E6, E7) consume the same candidate
    * set, so it is computed once per (session, dir) and stored via
    * localCheckpoint — the shared-materialized-view pattern a
    * warehouse would use for a common subexpression. Result rows are
    * tiny (near-dup pairs only).
    */
  private[queries] def ngramPairs(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionStage.value(spark, dir, "ngram_pairs")(
      Dedup.scoreJaccard(shingleInter(spark, dir), threshold = 0.5)
        .localCheckpoint(true))

  /** Session-scoped CC labels over [[ngramPairs]]: E6 and M6 both
    * consume them; the iterative large-star/small-star rounds run
    * once per (session, dir) — same materialized-view semantics as
    * the pairs cache (labels are near-dup-member-sized, tiny).
    */
  private[queries] def ccLabels(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionStage.value(spark, dir, "cc_labels")(
      Dedup.connectedComponents(ngramPairs(spark, dir), "doc_a", "doc_b")
        .localCheckpoint(true))

  /** E4: exact n-gram Jaccard over the inverted shingle index. */
  def ddNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramPairs(spark, dir)

  val ddNgramJaccardSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
      |idx AS (
      |  SELECT * FROM (
      |    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) x
      |  WHERE df <= 100),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 4) + 0 AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE round(CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter), 4) >= 0.5""".stripMargin

  /** E16: containment near-superset pairs — |A∩B| / min(|A|,|B|)
    * over 3-gram shingles ([[graft.operators.Dedup.containmentPairs]]).
    * Catches the small-doc-quoted-in-big-doc inclusions Jaccard's
    * symmetric denominator hides.
    */
  def ddContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.scoreContainment(shingleInter(spark, dir), threshold = 0.8)

  val ddContainmentSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
      |idx AS (
      |  SELECT * FROM (
      |    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) x
      |  WHERE df <= 100),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size), 4) + 0 AS containment
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE round(CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size), 4) >= 0.8""".stripMargin

  /** E5: exact dedup after text normalization (lowercase, collapsed
    * whitespace) — catches trivially-reformatted copies the byte
    * hash misses.
    */
  def ddExactNorm(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    t.documents
      .select(md5(norm.cast("binary")).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))
  }

  val ddExactNormSql: String =
    """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
      |  min(doc_id) AS survivor_id, count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** E7: edit-distance verification of near-dup candidates — exact
    * Levenshtein only on the (bounded) candidate pairs from the
    * shingle index, never on N². The final precision stage of a
    * dedup pipeline.
    */
  def ddLevenshtein(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = ngramPairs(spark, dir)
    val texts = t.documents.select(col("doc_id"), substring(col("text"), 1, 80).as("prefix"))
    pairs
      .join(texts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("prefix", "pa"), "doc_a")
      .join(texts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("prefix", "pb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
  }

  val ddLevenshteinSql: String =
    s"""WITH pairs AS ($ddNgramJaccardSql),
       |texts AS (SELECT doc_id, left(text, 80) AS prefix FROM documents)
       |SELECT doc_a, doc_b, levenshtein(ta.prefix, tb.prefix) AS edit_dist
       |FROM pairs
       |JOIN texts ta ON ta.doc_id = doc_a
       |JOIN texts tb ON tb.doc_id = doc_b""".stripMargin

  // ----------------------------------------------------------------
  // F. Similarity search
  // ----------------------------------------------------------------

  private def queryVectors(t: Tables): DataFrame =
    t.embeddings.filter(col("vec_id") < 10)

  /** F1: brute-force exact cosine top-5 for the 10 query vectors. */
  def simCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Similarity.cosineTopK(t.embeddings, queryVectors(t), "vec_id", "embedding", k = 5)
  }

  val simCosineTopkSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, b.vec_id AS base_id,
      |    round(
      |      list_sum(list_transform(list_zip(b.embedding, q.qv),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      |      4) + 0 AS score
      |  FROM embeddings b, q WHERE b.vec_id != q.query_id)
      |SELECT query_id, base_id, score, rank FROM (
      |  SELECT query_id, base_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, base_id) AS rank
      |  FROM scored) x
      |WHERE rank <= 5""".stripMargin

  /** E8: embedding-cosine near-duplicate pairs — LSH buckets then
    * exact cosine ≥ threshold. The synthetic embeddings have no true
    * near-dups (max pairwise cosine ≈ 0.51), so the threshold sits
    * where bucket-agreeing pairs actually land; the semantics under
    * test are candidate generation + exact filter, fully oracled
    * (hyperplane constants as SQL literals).
    */
  def ddEmbeddingNeardup(spark: SparkSession, dir: String): DataFrame =
    // planes PINNED at 6 for oracle determinism (the hyperplane
    // constants are SQL literals below). The library default a
    // caller should copy at scale is Similarity.embeddingNearDupAuto,
    // which derives planes = ceil(log2(N/targetBucketSize)) so bucket
    // occupancy stays flat as N grows.
    Similarity.embeddingNearDup(Tables(spark, dir).embeddings,
      "vec_id", "embedding", dim = 64, planes = 6, threshold = 0.35, seed = 42L)

  val ddEmbeddingNeardupSql: String = {
    val hp = Similarity.hyperplanes(64, 6, 42L)
    val hpLit = hp.map(_.mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    val cosSql =
      """round(
        |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        |      4)""".stripMargin
    s"""WITH hp(m) AS (SELECT $hpLit),
       |sig AS (
       |  SELECT vec_id, embedding,
       |    list_sum(list_transform(range(1, 7), i ->
       |      CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                   list_transform(list_zip(embedding, m[i]),
       |                     p -> CAST(p[1] AS DOUBLE) * p[2])), (x, y) -> x + y) > 0
       |           THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END)) AS bucket
       |  FROM embeddings, hp)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosSql + 0 AS cosine
       |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE $cosSql >= 0.35""".stripMargin
  }

  /** F2: LSH-bucketed ANN, stated as its recall invariant. The ANN
    * result itself is engine-specific (which true neighbors the
    * bucketing recovers depends on the hash family), so instead of a
    * rows-only entry the registry row emits the property that makes
    * an ANN index USEFUL: recall against the exact
    * [[simCosineTopk]] ground truth, measured in-plan and gated at
    * a floor the multi-table construction clears with margin.
    * The synthetic embeddings are isotropic-random (pairwise cosines
    * ≈ 0), the worst case for hyperplane LSH, so recall needs many
    * independent tables: planes = 4, tables = 12 measures recall
    * 0.78 / 0.68 / 0.92 at sf0.001 / 0.01 / 0.1 (deterministic per
    * SF — seeded planes, fixed data); floor 0.50. The DuckDB twin
    * computes the exact-top-k cardinality (so the denominator is
    * cross-checked) and states the gate as its fixed point.
    * Full neighbor lists remain available via
    * [[graft.operators.Similarity.lshAnn]] (recall-spec'd in
    * SimilaritySpec).
    */
  def simLshAnn(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val ann = Similarity.lshAnn(t.embeddings, queryVectors(t), "vec_id", "embedding",
      dim = 64, planes = 4, k = 5, tables = 12)
    val exact = Similarity.cosineTopK(t.embeddings, queryVectors(t), "vec_id", "embedding", k = 5)
    exact.select(col("query_id"), col("base_id"))
      .join(ann.select(col("query_id"), col("base_id"), lit(1L).as("hit")),
        Seq("query_id", "base_id"), "left")
      .agg(
        count(lit(1)).as("n_exact"),
        // recall*100 >= 50, in integers (no float boundary)
        (sum(coalesce(col("hit"), lit(0L))) * lit(100L) >=
          count(lit(1)) * lit(50L)).cast("long").as("recall_ok"))
  }

  val simLshAnnSql: String =
    s"""WITH topk AS ($simCosineTopkSql)
       |SELECT count(*) AS n_exact, CAST(1 AS BIGINT) AS recall_ok FROM topk""".stripMargin

  /** F3: per-label centroids (IVF coarse-quantizer build). */
  def simCentroid(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroids(Tables(spark, dir).embeddings, "label", "embedding")

  val simCentroidSql: String =
    """WITH percomp AS (
      |  SELECT label, d, avg(CAST(embedding[d] AS DOUBLE)) AS c
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
      |  GROUP BY label, d)
      |SELECT label, round(sqrt(sum(c * c)), 4) + 0 AS centroid_norm,
      |  count(*) AS dim
      |FROM percomp GROUP BY label""".stripMargin

  /** F4: IVF ANN search — coarse-quantize by per-label centroids,
    * probe the 2 nearest lists per query, exact cosine only inside
    * probed lists. Fully deterministic (rounded centroids), so fully
    * oracled — the scale path the LSH variant approximates.
    */
  def simIvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Similarity.ivfAnn(t.embeddings, queryVectors(t), "vec_id", "embedding", "label",
      nprobe = 2, k = 5)
  }

  val simIvfAnnSql: String = ivfAnnSqlAt(2)

  /** The F4 label-cell IVF SQL parameterized by nprobe — the r13
    * `sim_ivf_eval2` row sweeps nprobe ∈ {1,2,4} over it.
    */
  private[queries] def ivfAnnSqlAt(nprobe: Int): String = {
    def cosSql(a: String, b: String): String =
      s"""(list_sum(list_transform(list_zip($a, $b),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin
    s"""WITH percomp AS (
       |  SELECT label, d, avg(CAST(embedding[d] AS DOUBLE)) AS c
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
       |  GROUP BY label, d),
       |cents AS (
       |  SELECT label AS clabel, list(round(c, 4) ORDER BY d) AS cvec
       |  FROM percomp GROUP BY label),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
       |assign AS (
       |  SELECT query_id, clabel AS label FROM (
       |    SELECT q.query_id, c.clabel,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(${cosSql("q.qv", "c.cvec")}, 4) DESC, c.clabel) AS crank
       |    FROM q, cents c) x
       |  WHERE crank <= $nprobe),
       |scored AS (
       |  SELECT a.query_id, b.vec_id AS base_id,
       |    round(${cosSql("q.qv", "b.embedding")}, 4) + 0 AS score
       |  FROM assign a
       |  JOIN embeddings b ON b.label = a.label
       |  JOIN q ON q.query_id = a.query_id
       |  WHERE b.vec_id != a.query_id)
       |SELECT query_id, base_id, score, rank FROM (
       |  SELECT query_id, base_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, base_id) AS rank
       |  FROM scored) x
       |WHERE rank <= 5""".stripMargin
  }

  /** F5: Lloyd k-means (k=4, 2 assignment passes) — semantic
    * clustering over the embedding column; deterministic seeding and
    * rounding make the whole trajectory SQL-oracled (the oracle
    * unrolls both iterations as CTEs).
    */
  def simKmeans(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeans(Tables(spark, dir).embeddings, "vec_id", "embedding",
      k = 4, iters = 2)

  private def cosSqlExpr(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))""".stripMargin

  /** Two unrolled Lloyd iterations as CTEs; terminal table `a2`
    * holds (vec_id, cluster, score, rk) — rk=1 is the final
    * assignment. Mirrors [[Similarity.kmeans]] exactly (lowest-id
    * seeding, 4-dp rounding, first-index tie-break).
    */
  private def kmeansCtes(k: Int): String =
    s"""init AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS cluster,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k)),
       |a1 AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, i.cluster,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY round(${cosSqlExpr("e.embedding", "i.cvec")}, 4) DESC, i.cluster) AS rk
       |    FROM embeddings e, init i) x
       |  WHERE rk = 1),
       |cent1 AS (
       |  SELECT cluster, d, round(avg(CAST(e.embedding[d] AS DOUBLE)), 4) AS c
       |  FROM a1 JOIN embeddings e USING (vec_id),
       |    (SELECT unnest(range(1, 65)) AS d)
       |  GROUP BY cluster, d),
       |cvec1 AS (SELECT cluster, list(c ORDER BY d) AS cvec FROM cent1 GROUP BY cluster),
       |a2 AS (
       |  SELECT vec_id, cluster, score,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cluster) AS rk
       |  FROM (
       |    SELECT e.vec_id, c.cluster,
       |      round(${cosSqlExpr("e.embedding", "c.cvec")}, 4) AS score
       |    FROM embeddings e, cvec1 c) x)""".stripMargin

  val simKmeansSql: String =
    s"""WITH ${kmeansCtes(4)}
       |SELECT vec_id AS id, cluster, score + 0 AS score FROM a2 WHERE rk = 1""".stripMargin

  /** The unrolled-k-means CTE chain for other oracles that build on
    * the F5 assignment (F17 silhouette reads a2's rk=1/rk=2 rows).
    */
  private[queries] def kmeansCtesForOracle(k: Int): String = kmeansCtes(k)

  /** E11: SemDeDup-style semantic near-dup pairs — k-means blocking
    * (k=16) then exact cosine ≥ 0.35 within clusters only.
    */
  def ddSemanticPairs(spark: SparkSession, dir: String): DataFrame =
    // k PINNED at 16 for oracle determinism (the k-means CTEs below
    // unroll at k=16). The library default a caller should copy at
    // scale is Similarity.semanticPairsAuto, which derives
    // k = ceil(N/targetClusterSize) so per-cluster pair work stays
    // constant as N grows.
    Similarity.semanticPairs(Tables(spark, dir).embeddings,
      "vec_id", "embedding", k = 16, iters = 2, threshold = 0.35)

  val ddSemanticPairsSql: String =
    s"""WITH ${kmeansCtes(16)},
       |asg AS (SELECT vec_id, cluster FROM a2 WHERE rk = 1)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster AS cluster,
       |  round(${cosSqlExpr("ea.embedding", "eb.embedding")}, 4) + 0 AS cosine
       |FROM asg a
       |JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |JOIN embeddings ea ON ea.vec_id = a.vec_id
       |JOIN embeddings eb ON eb.vec_id = b.vec_id
       |WHERE round(${cosSqlExpr("ea.embedding", "eb.embedding")}, 4) >= 0.35""".stripMargin

  // ----------------------------------------------------------------
  // G. Text analysis
  // ----------------------------------------------------------------

  /** G1: token counting. */
  def txTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_actual"))

  val txTokensSql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |  length(text) AS n_chars_actual
      |FROM documents""".stripMargin

  /** G18: code-vs-prose detection — symbol density + programming-
    * keyword hits, the heuristic corpus pipelines use to route
    * documents between code and natural-language mixes before any
    * model-based classifier. Map-only. The emitted columns are
    * integer counts and the boolean verdict, NOT the rounded ratio:
    * a raw ratio like 5/20000 sits exactly on a 4-dp half-boundary
    * where Spark (shortest-decimal HALF_UP) and DuckDB (binary
    * round) disagree — the threshold compare itself is safe because
    * both engines produce bit-identical IEEE quotients.
    */
  def txCodeDetect(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val nSym = length(regexp_replace(text, "[^{}()\\[\\];=<>]", "")).cast("long")
    val kwHits = size(regexp_extract_all(text,
      lit("\\b(def|class|import|return|function|var|const|if|else|for|while)\\b"), lit(0)))
      .cast("long")
    Tables(spark, dir).documents.select(
      col("doc_id"),
      nSym.as("n_sym"),
      length(text).cast("long").as("n_chars"),
      kwHits.as("kw_hits"),
      (nSym.cast("double") / length(text) > 0.02 && kwHits >= 2).as("is_code"))
  }

  val txCodeDetectSql: String =
    """SELECT doc_id,
      |  length(regexp_replace(text, '[^{}()\[\];=<>]', '', 'g')) AS n_sym,
      |  length(text) AS n_chars,
      |  len(regexp_extract_all(text,
      |    '\b(def|class|import|return|function|var|const|if|else|for|while)\b')) AS kw_hits,
      |  CAST(length(regexp_replace(text, '[^{}()\[\];=<>]', '', 'g')) AS DOUBLE)
      |      / length(text) > 0.02
      |    AND len(regexp_extract_all(text,
      |      '\b(def|class|import|return|function|var|const|if|else|for|while)\b')) >= 2
      |    AS is_code
      |FROM documents""".stripMargin

  /** G17: type-token ratio — distinct words / total words, the
    * classic lexical-diversity quality signal (template/spam text
    * scores low, natural prose high). Pure map-side column math on
    * the normalized token array; zero shuffles.
    */
  def txTtr(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    Tables(spark, dir).documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_types"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 4).as("ttr"))
  }

  val txTtrSql: String =
    """SELECT doc_id,
      |  len(t) AS n_tokens,
      |  len(list_distinct(t)) AS n_types,
      |  round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) + 0 AS ttr
      |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |      FROM documents) x""".stripMargin

  /** G13: character-level Shannon entropy + alphabet size per doc —
    * the gibberish/boilerplate quality signal. Map-only HOFs on the
    * Spark side (no explode, no shuffle); the oracle reproduces the
    * same counts via unnest+group.
    */
  def txEntropy(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      round(TextOps.charEntropy(col("text")), 4).as("char_entropy"),
      TextOps.charAlphabet(col("text")).as("n_chars_distinct"))

  val txEntropySql: String =
    """WITH cnt AS (
      |  SELECT doc_id, ch, count(*) AS c
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
      |        FROM documents) x
      |  GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(c) AS n, count(*) AS alphabet FROM cnt GROUP BY 1)
      |SELECT c.doc_id,
      |  round(-sum((c.c / t.n) * ln(c.c / t.n)), 4) + 0 AS char_entropy,
      |  t.alphabet AS n_chars_distinct
      |FROM cnt c JOIN tot t USING (doc_id)
      |GROUP BY c.doc_id, t.alphabet""".stripMargin

  /** G1b: BPE-style pre-token count beside the whitespace count —
    * the ratio is the "tokens per word" fertility signal a training
    * pipeline budgets by.
    */
  def txTokensBpe(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_ws_tokens"),
      TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))

  val txTokensBpeSql: String = {
    // same runtime pattern; only the embedded single quote needs SQL
    // escaping (standard SQL strings pass backslashes through)
    val pat = TextOps.BpePretokenPattern.replace("'", "''")
    s"""SELECT doc_id,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '$pat')) AS n_bpe_tokens
       |FROM documents""".stripMargin
  }

  /** G2: composite quality score. */
  def txQuality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"))

  val txQualitySql: String =
    """SELECT doc_id, round(
      |  0.4 * least(len(regexp_split_to_array(trim(text), '\s+')) / 100.0, 1.0) +
      |  0.4 * least(
      |    (CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |       x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) AS DOUBLE)
      |     / len(regexp_split_to_array(trim(text), '\s+'))) * 5.0, 1.0) +
      |  0.2 * (1.0 - least(
      |    (CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
      |     / length(text)) * 10.0, 1.0)), 4) + 0 AS quality
      |FROM documents""".stripMargin

  /** G3: stopword-vote language ID. */
  def txLangid(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      col("lang").as("lang_claimed"),
      TextOps.langId(col("text")).as("lang_pred"))

  val txLangidSql: String = {
    def hits(words: Seq[String]): String = {
      val list = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> list_contains([$list], x)))"
    }
    val he = hits(TextOps.Stopwords(0)._2)
    val hd = hits(TextOps.Stopwords(1)._2)
    val hs = hits(TextOps.Stopwords(2)._2)
    val hf = hits(TextOps.Stopwords(3)._2)
    s"""SELECT doc_id, lang AS lang_claimed,
       |  CASE
       |    WHEN he >= hd AND he >= hs AND he >= hf AND he > 0 THEN 'en'
       |    WHEN hd >= he AND hd >= hs AND hd >= hf AND hd > 0 THEN 'de'
       |    WHEN hs >= he AND hs >= hd AND hs >= hf AND hs > 0 THEN 'es'
       |    WHEN hf >= he AND hf >= hd AND hf >= hs AND hf > 0 THEN 'fr'
       |    ELSE 'und' END AS lang_pred
       |FROM (SELECT doc_id, lang, $he AS he, $hd AS hd, $hs AS hs, $hf AS hf
       |      FROM documents) x""".stripMargin
  }

  /** G4: rolling-hash fingerprint. */
  def txFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))

  val txFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(
      |        regexp_split_to_array(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ''),
      |        c -> CAST(unicode(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 1000000007) AS fp
      |FROM documents""".stripMargin

  /** G5: top word bigrams per language — the n-gram frequency table
    * that backs corpus statistics; map-side partial counts, one
    * shuffle on (lang, bigram).
    */
  def txBigrams(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    import org.apache.spark.sql.expressions.Window
    // Native codegen'd bigram array (one loop per row) — same
    // semantics as the HOF transform-over-token-slices formulation
    // (short docs -> empty array), pinned by NativeExprSpec.
    val bigrams = t.documents.select(col("lang"),
      explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
    val counted = bigrams.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))
    counted
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
  }

  val txBigramsSql: String =
    """WITH toks AS (
      |  SELECT lang, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT lang, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1]))) AS bigram
      |  FROM toks),
      |counted AS (SELECT lang, bigram, count(*) AS n FROM bg GROUP BY 1, 2)
      |SELECT lang, bigram, n, rank FROM (
      |  SELECT lang, bigram, n,
      |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
      |  FROM counted) x
      |WHERE rank <= 5""".stripMargin

  /** G6: HLL approximate distinct vocabulary per source, stated as
    * its error invariant. HLL bit patterns are engine-specific, so
    * the registry row emits what a sketch CONTRACTS: per source, the
    * exact distinct count (cross-checked by DuckDB's exact
    * COUNT(DISTINCT)) and an in-plan |est − exact| ≤ 5%·exact gate
    * (rsd = 0.01, so 5% is a 5σ margin). The estimate alone — the
    * thing a 100 TB pipeline would actually ship, where the exact
    * twin is unaffordable — remains available via
    * `approx_count_distinct`; Analytic2Spec bounds it too.
    */
  def txVocabApprox(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("tok")).as("n_exact"),
        approx_count_distinct(col("tok"), 0.01).as("est"))
      .select(
        col("source"), col("n_exact"),
        // |est - exact|*20 <= exact  ⇔  error ≤ 5%, in integers
        (abs(col("est") - col("n_exact")) * lit(20L) <= col("n_exact"))
          .cast("long").as("bound_ok"))
  }

  val txVocabApproxSql: String =
    """SELECT source, count(DISTINCT tok) AS n_exact, CAST(1 AS BIGINT) AS bound_ok
      |FROM (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |      FROM documents) x
      |GROUP BY source""".stripMargin

  /** G8: PII-style redaction over the JSON props strings (the only
    * testdata column containing digits — real replacements happen).
    */
  def txRedact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events.select(
      col("event_id"),
      TextOps.redact(col("props")).as("redacted"))

  val txRedactSql: String =
    """SELECT event_id,
      |  regexp_replace(
      |    regexp_replace(props,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '[0-9]+', '<NUM>', 'g') AS redacted
      |FROM events""".stripMargin

  /** G7: TF-IDF top-3 terms per document. */
  def txTfidf(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfIdfTopK(Tables(spark, dir).documents, "text", "doc_id", k = 3)

  val txTfidfSql: String =
    """WITH terms AS (
      |  SELECT doc_id AS doc, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |total AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT doc AS doc_id, term, tfidf, rank FROM (
      |  SELECT doc, term,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) + 0 AS tfidf,
      |    row_number() OVER (PARTITION BY doc
      |      ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) DESC, term) AS rank
      |  FROM tf JOIN df USING (term) CROSS JOIN total) x
      |WHERE rank <= 3""".stripMargin

  /** E6: dedup groups — connected components over the n-gram
    * Jaccard near-dup pairs (min-reachable-id labeling).
    */
  def ddDedupGroups(spark: SparkSession, dir: String): DataFrame =
    ccLabels(spark, dir)

  val ddDedupGroupsSql: String =
    s"""WITH RECURSIVE pairs AS ($ddNgramJaccardSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a""".stripMargin

  /** N1: deterministic train/val/test split — counts per
    * (lang, split) so the oracle checks every row's assignment.
    */
  def smSplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .withColumn("split", graft.operators.Sampling.splitAssign(col("doc_id"), 80, 10))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val smSplitAssignSql: String =
    """SELECT lang,
      |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS n_docs
      |FROM (SELECT lang,
      |        (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 100 AS b
      |      FROM documents) x
      |GROUP BY 1, 2""".stripMargin

  /** N2: deterministic stratified 10% sample per language. */
  def smStratified(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .stratifiedSample(
        Tables(spark, dir).documents.select(col("doc_id"), col("lang")),
        "lang", "doc_id", 0.1)

  val smStratifiedSql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 1000000, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents) x
      |WHERE rk <= ceil(n * 0.1)""".stripMargin

  /** M1: end-to-end corpus cleaning — the composed training-data
    * pipeline: score quality → language-ID → threshold filter →
    * exact-dedup survivors. One scan, one dedup shuffle, one
    * survivor semi-join; everything upstream is map-only. The
    * survivor set (doc ids + two columns) is session-cached like
    * [[ngramPairs]]/[[ccLabels]]: the flagship M1 row and the M7
    * manifest both consume it.
    */
  def pipeCleanCorpus(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionStage.value(spark, dir, "clean_corpus") {
      val t = Tables(spark, dir)
      val scored = t.documents.select(
        col("doc_id"), col("text"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.langId(col("text")).as("lang_pred"))
      val kept = scored.filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")
      val survivors = kept
        .groupBy(md5(col("text").cast("binary")))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      kept
        .join(survivors, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang_pred"), col("quality"))
        .localCheckpoint(true)
    }

  val pipeCleanCorpusSql: String =
    s"""WITH q AS ($txQualitySql),
       |l AS ($txLangidSql),
       |kept AS (
       |  SELECT d.doc_id, d.text, l.lang_pred, q.quality
       |  FROM documents d
       |  JOIN q USING (doc_id) JOIN l USING (doc_id)
       |  WHERE q.quality >= 0.5 AND l.lang_pred != 'und'),
       |surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text))
       |SELECT k.doc_id, k.lang_pred, k.quality
       |FROM kept k JOIN surv USING (doc_id)""".stripMargin

  /** M6: canonicalization — the "keep the best copy" stage after
    * near-dup detection: connected components over the n-gram
    * near-dup pairs label each doc with its duplicate group
    * (singletons label themselves), then ONE window pass per group
    * picks the survivor by quality (tie → lowest doc_id) and counts
    * members. Downstream of the CC labels this is a single shuffle
    * on the component key; the expensive stages (pairs, CC) are the
    * already-shared candidates subtree.
    */
  def pipeCanonicalize(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cc = ccLabels(spark, dir)
    val scored = t.documents.select(
      col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    val labeled = scored.join(cc, scored("doc_id") === cc("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"), col("quality"))
    val byComp = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    val ranked = byComp.orderBy(col("quality").desc, col("doc_id"))
    labeled
      .withColumn("rk", row_number().over(ranked))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .filter(col("rk") === 1)
      .select(col("component"), col("doc_id").as("survivor_doc"),
        col("quality"), col("n_members"))
  }

  val pipeCanonicalizeSql: String =
    s"""WITH RECURSIVE pairs AS ($ddNgramJaccardSql),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |q AS ($txQualitySql),
       |labeled AS (
       |  SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.quality
       |  FROM q LEFT JOIN comp c ON q.doc_id = c.node)
       |SELECT component, doc_id AS survivor_doc, quality, n_members FROM (
       |  SELECT component, doc_id, quality,
       |    row_number() OVER (PARTITION BY component
       |      ORDER BY quality DESC, doc_id) AS rk,
       |    count(*) OVER (PARTITION BY component) AS n_members
       |  FROM labeled) x
       |WHERE rk = 1""".stripMargin

  /** K1: binary payload + typed metadata (text bytes stand in for
    * media payloads; the plumbing is payload-agnostic).
    */
  def mmBinaryMeta(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    Multimodal
      .withBinaryMeta(t.documents.withColumn("payload", col("text").cast("binary")), "payload")
      .select(col("doc_id"), col("n_bytes"), col("magic_byte"), col("checksum"))
  }

  val mmBinaryMetaSql: String =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |  unicode(left(text, 1)) AS magic_byte,
      |  left(md5(text), 8) AS checksum
      |FROM documents""".stripMargin

  /** K3 `mm_decode_stats` (re-pointed, round 11 — the FakeDecoder
    * fixture is gone): REAL decode-or-drop accounting. The staged
    * corpus mixes real PNG payloads (the K9 ramp) with corrupt
    * payloads (raw text bytes — no installed reader decodes them)
    * at doc_id % 7 == 3; the stage decodes what it can and ACCOUNTS
    * for what it dropped — the media-ingest contract a 100 TB corpus
    * needs (corrupt rows are a fact of life; silently losing them
    * unaccounted is how corpora rot).
    */
  def mmDecodeStats(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // r13: spread the (id, text) rows across cores before the per-id
    // PNG encode (single-input-split serialization; the K7 lesson).
    val docs = t.documents.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val staged = {
      val spark2 = spark
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.BinaryType, nullable = false)))
      val rows = docs.rdd.mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload =
            if (id % 7 == 3) ("corrupt:" + r.getString(1)).getBytes("UTF-8")
            else {
              val w = (8 + id % 9).toInt
              val h = (8 + (id / 9) % 7).toInt
              val base = (id % 64).toInt
              Multimodal.ImageIo.encode(w, h, "png")((x, y, c) => base + 64 * c + x + y)
            }
          org.apache.spark.sql.Row(id, payload)
        }
      }
      spark2.createDataFrame(rows, schema)
    }
    // Decode-or-drop WITH in-line accounting: one mapPartitions pass
    // emits the decoded flag next to the dims (no join back to the
    // id table — at 100 TB that join would shuffle the whole corpus
    // twice for a per-row boolean).
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("decoded",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("width",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("height",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val out = staged.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Multimodal.ImageIo.decodeStats(r.getAs[Array[Byte]](1)) match {
          case Some((w, h, _, _)) =>
            org.apache.spark.sql.Row(id, 1L, w.toLong, h.toLong)
          case None =>
            org.apache.spark.sql.Row(id, 0L, 0L, 0L)
        }
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  val mmDecodeStatsSql: String =
    """SELECT doc_id,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END AS BIGINT) AS decoded,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 8 + doc_id % 9 END AS BIGINT) AS width,
      |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 8 + (doc_id // 9) % 7 END AS BIGINT) AS height
      |FROM documents""".stripMargin

  /** K4 `mm_frame_sample` (re-pointed, round 11 — the FakeDecoder
    * fixture is gone): REAL container index walk WITHOUT decoding —
    * the "seek by index" half of the video economics (K13 decodes
    * what it samples; this row proves the sampling itself). Every
    * 2nd frame of each staged AVI is located by parsing the RIFF
    * chunk tree + idx1 index, and the two bytes AT the computed
    * offset must be the JPEG SOI marker (0xFFD8 = 65496) — a wrong
    * offset lands anywhere else in the container.
    */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val staged = Pipeline70.stagedAvis(t)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("frame_idx",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("soi_marker",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = staged.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        Multimodal.AviMjpeg.frameIndex(payload).toSeq.flatMap { frames =>
          frames.zipWithIndex.collect {
            case ((off, size), i) if i % 2 == 0 && size >= 2 &&
                off + size <= payload.length =>
              val soi = ((payload(off.toInt) & 0xff) << 8) | (payload(off.toInt + 1) & 0xff)
              org.apache.spark.sql.Row(id, i.toLong, soi.toLong)
          }
        }
      }
    }
    spark.createDataFrame(rows, schema)
  }

  val mmFrameSampleSql: String =
    """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
      |  CAST(65496 AS BIGINT) AS soi_marker
      |FROM (SELECT doc_id, unnest(range(0, 3 + doc_id % 4, 2)) AS f
      |      FROM documents)""".stripMargin
}
