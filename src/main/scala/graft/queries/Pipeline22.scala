package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 19: exact percent-rank/cume-dist,
  * CUSUM sequential drift detection, multimodal mix balancing.
  */
object Pipeline22 {

  /** D73: per-nation percent_rank + cume_dist of order values as
    * EXACT ×10⁶ integers — the engine-native `percent_rank()` /
    * `cume_dist()` emit double ratios whose ×10⁶ floor can differ by
    * one ulp across engines on tie boundaries, so both statistics
    * are rebuilt from integer rank counts instead: cnt_lt = asc
    * rank − 1, cnt_le = n − (desc rank − 1). The distribution-
    * position columns a feature pipeline joins back onto the fact
    * row (D16's ntile buckets; this is the continuous variant).
    *
    * Scale shape: two rank windows + one partition count per nation
    * key (the D47 per-nation window precedent — parallel across
    * nations; within a nation Spark's range-partitioned sort
    * handles a hot key); map-side integer emission, no float
    * anywhere.
    */
  def qPercentRank(t: Tables): DataFrame = {
    val rows = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey").as("n_nationkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val asc  = Window.partitionBy(col("n_nationkey")).orderBy(col("cents").asc)
    val desc = Window.partitionBy(col("n_nationkey")).orderBy(col("cents").desc)
    val part = Window.partitionBy(col("n_nationkey"))
    rows
      .withColumn("r_asc", rank().over(asc).cast("long"))
      .withColumn("r_desc", rank().over(desc).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .select(col("o_orderkey"), col("n_nationkey"),
        expr("""CASE WHEN n = 1 THEN 0
                ELSE (1000000 * (r_asc - 1)) div (n - 1) END""").as("pr_fx"),
        expr("(1000000 * (n - (r_desc - 1))) div n").as("cd_fx"))
  }

  val qPercentRankSql: String =
    """WITH r AS (
      |  SELECT o_orderkey, c_nationkey AS n_nationkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |k AS (
      |  SELECT o_orderkey, n_nationkey,
      |    CAST(rank() OVER (PARTITION BY n_nationkey ORDER BY cents) AS BIGINT) AS r_asc,
      |    CAST(rank() OVER (PARTITION BY n_nationkey ORDER BY cents DESC) AS BIGINT) AS r_desc,
      |    CAST(count(*) OVER (PARTITION BY n_nationkey) AS BIGINT) AS n
      |  FROM r)
      |SELECT o_orderkey, n_nationkey,
      |  CASE WHEN n = 1 THEN 0
      |       ELSE (1000000 * (r_asc - 1)) // (n - 1) END AS pr_fx,
      |  (1000000 * (n - (r_desc - 1))) // n AS cd_fx
      |FROM k""".stripMargin

  /** D74: CUSUM sequential drift detection per event type — the
    * running cumulative deviation from a first-7-day baseline,
    * reported as the maximum positive excursion and the day it
    * peaks. The page-style sequential detector behind "when did the
    * metric actually start drifting" (D45's windowed mean-shift
    * localizes a step change; CUSUM accumulates slow drifts that
    * never clear a windowed threshold).
    *
    * Scale shape: one corpus collapse to (type, day) counts, then
    * everything runs on the calendar-bounded table: deviations are
    * exact integers scaled by 7 (7·xᵢ − Σ(first 7 days) — no
    * division), the excursion is a running integer sum, and the peak
    * is a row_number argmax with the earliest-day tie rule.
    */
  def qCusum(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val ord  = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val part = Window.partitionBy(col("event_type"))
    val cum  = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withBase = daily
      .withColumn("rn", row_number().over(ord))
      .withColumn("base", sum(when(col("rn") <= 7, col("x"))).over(part))
      .filter(col("rn") > 7)
      .withColumn("cusum", sum(lit(7) * col("x") - col("base")).over(cum))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(col("cusum").desc, col("day").asc)
    withBase
      .withColumn("pk", row_number().over(pick))
      .filter(col("pk") === 1)
      .select(col("event_type"), col("base").as("base7_x7"),
        col("cusum").as("max_cusum"), col("day").as("peak_day"))
  }

  val qCusumSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |b0 AS (
      |  SELECT event_type, day, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |b AS (
      |  SELECT event_type, day, x, rn,
      |    CAST(sum(CASE WHEN rn <= 7 THEN x END)
      |         OVER (PARTITION BY event_type) AS BIGINT) AS base
      |  FROM b0),
      |c AS (
      |  SELECT event_type, day, base,
      |    CAST(sum(7 * x - base) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum
      |  FROM b WHERE rn > 7),
      |p AS (
      |  SELECT event_type, base, cusum, day,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY cusum DESC, day) AS pk
      |  FROM c)
      |SELECT event_type, base AS base7_x7, cusum AS max_cusum,
      |  day AS peak_day
      |FROM p WHERE pk = 1""".stripMargin

  /** K8: multimodal mix balance — per-modality byte accounting
    * against a declared training-mix target (text 70% / image 20% /
    * audio 10%) with the per-modality keep fraction that would hit
    * it: the planning pass that sizes N4-style temperature sampling
    * when the corpus mixes modalities of very different byte costs
    * (K1 reads per-item metadata; this is the corpus-level budget
    * view).
    *
    * Scale shape: modality and byte length are map-side column math
    * on the binary payload; ONE bounded aggregate; shares and keep
    * fractions are ×10⁶ integer floor divisions of exact long byte
    * totals.
    */
  def mmModalityBalance(t: Tables): DataFrame = {
    val target = expr(
      """CASE modality WHEN 'text' THEN 700000
                       WHEN 'image' THEN 200000
                       ELSE 100000 END""")
    val m = t.documents
      .select(
        element_at(
          typedLit(Seq("text", "image", "audio")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        length(col("text").cast("binary")).cast("long").as("bytes"))
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_items"), sum(col("bytes")).as("total_bytes"))
    val tot = m.agg(sum(col("total_bytes")).as("all_bytes"))
    m.crossJoin(broadcast(tot))
      .withColumn("share_fx",
        expr("(1000000 * total_bytes) div all_bytes"))
      .withColumn("target_fx", target.cast("long"))
      .select(col("modality"), col("n_items"), col("total_bytes"),
        col("share_fx"), col("target_fx"),
        least(lit(1000000L),
          expr("(1000000 * target_fx) div share_fx")).as("keep_fx"))
  }

  val mmModalityBalanceSql: String =
    """WITH d AS (
      |  SELECT (['text', 'image', 'audio'])[CAST(doc_id % 3 AS INTEGER) + 1]
      |           AS modality,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS bytes
      |  FROM documents),
      |m AS (
      |  SELECT modality, count(*) AS n_items,
      |    CAST(sum(bytes) AS BIGINT) AS total_bytes
      |  FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(total_bytes) AS BIGINT) AS all_bytes FROM m)
      |SELECT modality, n_items, total_bytes,
      |  (1000000 * total_bytes) // all_bytes AS share_fx,
      |  CAST(CASE modality WHEN 'text' THEN 700000
      |                     WHEN 'image' THEN 200000
      |                     ELSE 100000 END AS BIGINT) AS target_fx,
      |  least(CAST(1000000 AS BIGINT),
      |    (CAST(1000000 AS BIGINT) * (CASE modality WHEN 'text' THEN 700000
      |                                              WHEN 'image' THEN 200000
      |                                              ELSE 100000 END))
      |    // ((1000000 * total_bytes) // all_bytes)) AS keep_fx
      |FROM m CROSS JOIN t""".stripMargin
}
