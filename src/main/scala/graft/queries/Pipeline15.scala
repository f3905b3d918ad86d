package graft.queries

import graft.Tables
import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 12: corpus boilerplate-line removal,
  * event-transition matrices, language-classifier audit, and
  * length-bucketed batch assignment.
  */
object Pipeline15 {

  /** E24: CCNet-style boilerplate segment removal — drop every
    * 10-token segment that occurs in ≥ 3 DISTINCT documents (the
    * document-frequency test that strips headers/footers/nav
    * chrome repeated across a crawl), then reassemble each doc
    * from its surviving segments. Complements [[Pipeline2.txSpanDedup]]
    * (keep-FIRST-occurrence exact-substring dedup): here a repeated
    * segment is removed from EVERY document including the first,
    * and a segment repeated only within one doc is kept.
    *
    * Scale shape: the corpus explodes once to (doc, idx, hash)
    * rows; the doc-frequency table is a hash-keyed aggregate
    * (map-side count-distinct partials), and the boilerplate set is
    * filtered BEFORE the anti-join so only df≥3 hashes flow into
    * it; the anti-join stays a hash join on the segment key (no
    * broadcast assumption — at crawl scale the boilerplate set can
    * itself be large). Docs whose every segment is boilerplate
    * survive as empty-text rows via the final left join. A 64-bit
    * hash collision merges two distinct segments — ~n²/2⁶⁵, the
    * standard C4 trade (same as G14).
    */
  def ddLineDedup(t: Tables): DataFrame = {
    val seg = t.documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (ceil(size(col("toks")) / lit(10.0)) - 1).cast("int")),
          i => xxhash64(array_join(slice(col("toks"), i * 10 + 1, lit(10)), " ")))))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "h")
    val boiler = seg.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3)
      .select(col("h"))
    val kept = seg.join(boiler, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept_idx"))
    t.documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        ceil(size(col("toks")) / lit(10.0)).cast("long").as("n_segs"),
        coalesce(size(col("kept_idx")), lit(0)).cast("long").as("n_kept"),
        coalesce(array_join(transform(col("kept_idx"),
          i => array_join(slice(col("toks"), i * 10 + 1, lit(10)), " ")), " "),
          lit("")).as("text_kept"))
  }

  val ddLineDedupSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT) AS n_segs,
      |    i - 1 AS idx,
      |    array_to_string(
      |      string_split(text, ' ')[(i-1)*10+1 : (i-1)*10+10], ' ') AS seg
      |  FROM documents, unnest(generate_series(1,
      |    CAST(ceil(len(string_split(text, ' ')) / 10.0) AS INT))) AS t(i)),
      |b AS (SELECT seg FROM s GROUP BY seg HAVING count(DISTINCT doc_id) >= 3),
      |k AS (SELECT * FROM s WHERE seg NOT IN (SELECT seg FROM b)),
      |r AS (SELECT doc_id, count(*) AS n_kept,
      |        string_agg(seg, ' ' ORDER BY idx) AS text_kept
      |      FROM k GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(ceil(len(string_split(d.text, ' ')) / 10.0) AS BIGINT) AS n_segs,
      |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(r.text_kept, '') AS text_kept
      |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id""".stripMargin

  /** D55: first-order Markov transition matrix over the per-user
    * event stream — counts and exact ×10⁶ row-normalized
    * probabilities for each (src → dst) consecutive event-type
    * pair: the behavioral-model / next-event-prediction input that
    * complements D29's unordered journeys and D51's unordered
    * baskets with ORDERED adjacency.
    *
    * Scale shape: one corpus exchange on user_id for the per-user
    * lead() adjacency (each user's stream sorts within its own
    * partition — no global event-log sort), then everything is
    * vocab²-bounded: the pair aggregate map-side combines to
    * n_types² rows and the normalizing window runs on that bounded
    * table. Probabilities are exact integer division (cnt·10⁶ div
    * rowtotal) — no float accumulation anywhere.
    */
  def qMarkovTransitions(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t.events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src_type"))
      .withColumn("dst_type", lead(col("src_type"), 1).over(w))
      .filter(col("dst_type").isNotNull)
    val counts = pairs.groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("cnt"))
    counts.select(col("src_type"), col("dst_type"), col("cnt"),
      expr("CAST(cnt * 1000000 div sum(cnt) OVER (PARTITION BY src_type) AS BIGINT)")
        .as("prob_fx"))
  }

  val qMarkovTransitionsSql: String =
    """WITH p AS (
      |  SELECT event_type AS src_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS dst_type
      |  FROM events),
      |c AS (SELECT src_type, dst_type, count(*) AS cnt
      |      FROM p WHERE dst_type IS NOT NULL GROUP BY 1, 2)
      |SELECT src_type, dst_type, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(cnt * 1000000 // sum(cnt) OVER (PARTITION BY src_type) AS BIGINT)
      |    AS prob_fx
      |FROM c""".stripMargin

  /** G29: language-classifier audit — the confusion matrix between
    * the corpus's declared language tag and G3's n-gram prediction,
    * with exact ×10⁶ within-claimed shares: the release-gate view
    * that tells a curator WHERE the lang-id heuristic disagrees
    * with upstream metadata (and at what rate) before filtering on
    * either. Map-only scoring (G3's stopword-hit math), one
    * 16-row-bounded aggregate, window on the bounded table.
    */
  def txLangConfusion(t: Tables): DataFrame = {
    val scored = t.documents.select(
      col("lang").as("lang_claimed"),
      TextOps.langId(col("text")).as("lang_pred"))
    val counts = scored.groupBy(col("lang_claimed"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    counts.select(col("lang_claimed"), col("lang_pred"), col("n"),
      expr("CAST(n * 1000000 div sum(n) OVER (PARTITION BY lang_claimed) AS BIGINT)")
        .as("share_fx"))
  }

  val txLangConfusionSql: String = {
    val pred = LlmQueries.txLangidSql
    s"""WITH scored AS ($pred),
       |c AS (SELECT lang_claimed, lang_pred, count(*) AS n
       |      FROM scored GROUP BY 1, 2)
       |SELECT lang_claimed, lang_pred, CAST(n AS BIGINT) AS n,
       |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang_claimed) AS BIGINT)
       |    AS share_fx
       |FROM c""".stripMargin
  }

  /** N16: length-bucketed batch assignment — documents bucketed by
    * token count (fixed 64-token-wide buckets) and numbered into
    * fixed-size batches of 8 within each bucket in deterministic
    * LCG-mix order: the batching scheme that keeps padding waste
    * bounded (every batch's docs are within one bucket width of
    * each other) while the mix order decorrelates batch composition
    * from ingest order.
    *
    * Scale shape — the N9 two-phase prefix-sum pattern: ranking
    * within a bucket must not funnel the bucket through one
    * reducer's window (length distributions make buckets huge and
    * skewed at corpus scale), so the rank is computed as intra-rank
    * within (bucket, sub-range of the mix) plus a broadcast offset
    * table of sub-range counts. Sub-range = mix div 2²⁵ is monotone
    * in the mix, so offsets + intra-rank reproduce the sequential
    * per-bucket rank EXACTLY (spec-pinned ≡ the naive single
    * window); ties broken by doc_id for a total order.
    */
  def smLengthBuckets(t: Tables): DataFrame =
    lengthBuckets(t.documents, bucketWidth = 64, batchSize = 8)

  /** Library form over any (doc_id, text) frame. */
  def lengthBuckets(docs: DataFrame, bucketWidth: Int, batchSize: Int): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"))
      .withColumn("bucket", expr(s"(tok - 1) div $bucketWidth"))
      .withColumn("mix",
        expr("((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007"))
      .withColumn("sub", expr("mix div 33554432"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val intraW = Window.partitionBy(col("bucket"), col("sub"))
      .orderBy(col("mix"), col("doc_id"))
    val intra = base.withColumn("rn", row_number().over(intraW))
    val offW = Window.partitionBy(col("bucket")).orderBy(col("sub"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("bucket"), col("sub"))
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum(col("c")).over(offW), lit(0L)))
      .select(col("bucket"), col("sub"), col("off"))
    intra.join(broadcast(offsets), Seq("bucket", "sub"))
      .withColumn("rank", col("off") + col("rn"))
      .select(col("doc_id"), col("tok"), col("bucket"),
        expr(s"(rank - 1) div $batchSize").as("batch"))
  }

  val smLengthBucketsSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) AS mix
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, tok, (tok - 1) // 64 AS bucket,
      |    row_number() OVER (PARTITION BY (tok - 1) // 64
      |                       ORDER BY mix, doc_id) AS rank
      |  FROM t)
      |SELECT doc_id, tok, CAST(bucket AS BIGINT) AS bucket,
      |  CAST((rank - 1) // 8 AS BIGINT) AS batch
      |FROM r""".stripMargin
}
