package graft.queries

import graft.Tables
import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Round-10 batch 68: REAL audio decode (the K2 seam's audio leg,
  * beside batch 62's real image decode) and held-out cross-entropy
  * (the train/eval LM evaluation that G11's self-scored logprob and
  * G38's KN perplexity filter both stop short of).
  */
object Pipeline66 {

  /** Deterministic WAV staging shared by the query, its twin, and
    * the spec. Per doc: mono 16-bit PCM at 8 kHz,
    *   n    = 256 + doc_id % 128        (256..383 frames)
    *   base = doc_id % 512
    *   s(i) = base + i                  (≤ 894, never clamped)
    * — closed forms: Σs = n·base + n(n−1)/2,
    * Σs² = n·base² + base·n(n−1) + (n−1)n(2n−1)/6,
    * peak = base + n − 1.
    */
  private[queries] def stagedWavs(t: Tables): DataFrame = {
    val spark = t.documents.sparkSession
    // (r13 note: spreading this id list across cores — the K7
    // staging lesson — was measured and REVERTED here: javax.sound's
    // AudioSystem writer path serializes on a global provider lock,
    // so 32 concurrent encoders only added contention — task time
    // 1.2 s -> 145 s, wall 0.5 s -> 2.7 s. The single-split encode
    // stage is the faster shape for THIS codec.)
    val ids = t.documents.select(col("doc_id").cast("long").as("doc_id"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val rows = ids.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val n = (256 + id % 128).toInt
        val base = (id % 512).toInt
        Row(id, Multimodal.AudioWav.encode(n, 8000f)(i => base + i))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** K11 `mm_audio_wav`: REAL WAV decode end-to-end. Stage real
    * RIFF/WAVE payloads (the JDK's own container writer), decode
    * them with `javax.sound.sampled` in the partition-batched seam,
    * and emit header fields + exact integer sample reductions — all
    * closed-form against the staging ramp, so one mis-read header
    * byte or swapped endianness goes red.
    *
    * Scale shape: encode and decode are map-only over the payload
    * partition (payload bytes never shuffle — the K6 convention);
    * output is 7 small columns per media row.
    */
  def mmAudioWav(t: Tables): DataFrame =
    Multimodal.decodeAudioStats(stagedWavs(t), "doc_id", "payload")
      .select(col("media_id").as("doc_id"), col("sample_rate"),
        col("n_channels"), col("n_frames"), col("sum_s"), col("sum_sq"),
        col("peak_abs"))

  val mmAudioWavSql: String =
    """SELECT doc_id,
      |  CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(1 AS BIGINT) AS n_channels,
      |  CAST(n AS BIGINT) AS n_frames,
      |  CAST(n * base + n * (n - 1) // 2 AS BIGINT) AS sum_s,
      |  CAST(n * base * base + base * n * (n - 1)
      |       + (n - 1) * n * (2 * n - 1) // 6 AS BIGINT) AS sum_sq,
      |  CAST(base + n - 1 AS BIGINT) AS peak_abs
      |FROM (SELECT doc_id, 256 + doc_id % 128 AS n, doc_id % 512 AS base
      |      FROM documents)""".stripMargin

  /** G45 `tx_cross_entropy`: held-out cross-entropy and perplexity
    * of an add-one-smoothed unigram LM — model fit on EVEN doc_ids,
    * scored on ODD doc_ids, p(w) = (tf_w + 1)/(N_train + V + 1)
    * with unseen eval tokens taking the (0 + 1) numerator (the
    * UNK class). Per eval source: token count, OOV count, H in
    * nats, perplexity — the quality gate for "did this source
    * drift from the training distribution".
    *
    * Scale shape: one train-side vocab agg (map-side combined) +
    * its 1-row (N, V) rollup broadcast; eval tokens join the vocab
    * on term (the G11 join shape) and collapse per source.
    */
  def txCrossEntropy(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("doc_id"), col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val train = toks.filter(col("doc_id") % 2 === 0)
    val eval = toks.filter(col("doc_id") % 2 === 1)
    val vocab = train.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val denom = vocab.agg(
      (sum(col("tf")) + count(lit(1)) + lit(1L)).as("den"))
    eval
      .join(vocab, Seq("term"), "left")
      .na.fill(0L, Seq("tf"))
      .crossJoin(broadcast(denom))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tf") === 0L, 1L).otherwise(0L)).as("n_oov"),
        sum(log((col("tf").cast("double") + 1.0) / col("den").cast("double"))).as("ll"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(-col("ll") / col("n_tokens").cast("double"), 4).as("h_nats"),
        round(exp(-col("ll") / col("n_tokens").cast("double")), 4).as("ppl"))
  }

  val txCrossEntropySql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term, count(*) AS tf FROM toks WHERE doc_id % 2 = 0 GROUP BY 1),
      |den AS (
      |  SELECT CAST(sum(tf) + count(*) + 1 AS BIGINT) AS den FROM vocab)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN v.tf IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  round(-sum(ln((COALESCE(v.tf, 0) + 1.0) / den)) / count(*), 4) + 0 AS h_nats,
      |  round(exp(-sum(ln((COALESCE(v.tf, 0) + 1.0) / den)) / count(*)), 4) + 0 AS ppl
      |FROM toks e LEFT JOIN vocab v USING (term) CROSS JOIN den
      |WHERE e.doc_id % 2 = 1
      |GROUP BY 1""".stripMargin
}
