package graft.queries

import graft.Tables
import graft.operators.{Constraints, Dedup, RangeJoin, Sampling, SnapshotDiff, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 coverage: interval joins, range-frame windows, and the
  * corpus-preparation operators a pretraining pipeline runs after
  * cleaning — repetition filters, chunking, sequence packing,
  * temperature rebalancing, unigram LM scoring. Every entry is a
  * SURVEY §2 row with a DuckDB oracle.
  */
object PipelineQueries {

  /** D22: interval join on `lo <= l_quantity < hi` via unit-cell
    * binning ([[RangeJoin.binned]]) — the equi-join scale path for
    * range predicates; per-range aggregate keeps the output
    * range-table-sized.
    */
  def qRangeJoin(t: Tables): DataFrame = {
    val ranges = t.nation.select(
      col("n_nationkey").cast("long").as("range_id"),
      col("n_nationkey").cast("double").as("lo"),
      (col("n_nationkey") + 1 + pmod(col("n_nationkey"), lit(9))).cast("double").as("hi"))
    RangeJoin.binned(t.lineitem, col("l_quantity"), ranges, col("lo"), col("hi"))
      .groupBy(col("range_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        // Exact decimal sum (prices are 2-dec values stored as
        // double): a double sum's last 4-dp digit is summation-order
        // dependent at 1e9 magnitudes — engine-divergent.
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 4)
          .as("sum_price"))
  }

  val qRangeJoinSql: String =
    """WITH ranges AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS range_id,
      |         CAST(n_nationkey AS DOUBLE) AS lo,
      |         CAST(n_nationkey + 1 + (n_nationkey % 9) AS DOUBLE) AS hi
      |  FROM nation)
      |SELECT range_id, count(*) AS n_lines,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) + 0 AS sum_price
      |FROM lineitem JOIN ranges
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY range_id""".stripMargin

  /** D23: event-time RANGE-frame window — per-user trailing 1-hour
    * sum/count by event time (not row count). One shuffle on the
    * partition key; the range frame slides in event-time units, the
    * formulation rows-windows can't express when event spacing is
    * irregular.
    */
  def qWindowRange(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    t.events.select(
      col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("trail_sum", round(sum(col("value")).over(w), 4))
      .withColumn("trail_n", count(lit(1)).over(w))
  }

  val qWindowRangeSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
      |  round(sum(value) OVER w, 4) + 0 AS trail_sum,
      |  count(*) OVER w AS trail_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** B11: rule-based validation report ([[Constraints]]): four
    * column-local rules folded into one scan + one referential
    * anti-join — the release gate. `known_event_type` deliberately
    * omits 'signup' so a domain rule actually fires on this data.
    */
  def trConstraints(t: Tables): DataFrame =
    Constraints.check(t.events, Seq(
      "event_id_not_null" -> col("event_id").isNotNull,
      "value_non_negative" -> (col("value") >= 0),
      "value_within_soft_bound" -> (col("value") <= 100),
      "known_event_type" -> col("event_type").isin("click", "view", "purchase", "error")))
      .unionByName(Constraints.referential(
        t.events, "user_id", t.customer, "c_custkey", "user_in_customer"))

  val trConstraintsSql: String =
    """WITH s AS (SELECT
      |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1,
      |  CAST(sum(CASE WHEN NOT coalesce(value >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r2,
      |  CAST(sum(CASE WHEN NOT coalesce(value <= 100, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r3,
      |  CAST(sum(CASE WHEN NOT coalesce(event_type IN ('click','view','purchase','error'), FALSE)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS r4
      |  FROM events),
      |fk AS (SELECT count(*) AS r5 FROM events e
      |       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
      |SELECT 'event_id_not_null' AS "rule", r1 AS n_violations FROM s
      |UNION ALL SELECT 'value_non_negative', r2 FROM s
      |UNION ALL SELECT 'value_within_soft_bound', r3 FROM s
      |UNION ALL SELECT 'known_event_type', r4 FROM s
      |UNION ALL SELECT 'user_in_customer', r5 FROM fk""".stripMargin

  /** D28: cohort retention — users grouped by first-activity week,
    * distinct-user counts per (cohort, week offset). The first-event
    * table shuffles on user_id, the same key the weekly projection
    * aggregates on, so the join reuses the exchange; the final cell
    * grid is |cohorts|·|offsets|.
    */
  def qRetention(t: Tables): DataFrame = {
    val weekly = t.events.select(
      col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
    val firsts = weekly.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    weekly.join(firsts, Seq("user_id"))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  val qRetentionSql: String =
    """WITH weekly AS (
      |  SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
      |firsts AS (SELECT user_id, min(week) AS cohort FROM weekly GROUP BY 1)
      |SELECT cohort, week - cohort AS week_offset,
      |  count(DISTINCT w.user_id) AS n_users
      |FROM weekly w JOIN firsts f USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** D29: path analysis — each user's first-3-event-type journey,
    * counted across users (the product-analytics "top paths" report
    * and the funnel generalization of D28). Per-user event lists
    * are bounded by per-user activity and assembled with ONE
    * map-side-combined collect on the user_id shuffle — no global
    * sort of the event log.
    */
  def qTopPaths(t: Tables): DataFrame =
    t.events
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("seq"))
      .select(array_join(
        transform(slice(col("seq"), 1, 3), s => s.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))

  val qTopPathsSql: String =
    """WITH p AS (
      |  SELECT user_id,
      |    array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>') AS path
      |  FROM events GROUP BY user_id)
      |SELECT path, count(*) AS n_users FROM p GROUP BY path""".stripMargin

  /** E10: latest-wins compaction — the CDC/log-compaction primitive
    * (one surviving row per key, newest timestamp wins). max_by on a
    * composite (µs·1000 + id%1000) long instead of a row_number
    * window: the aggregate combines map-side, so each partition
    * reduces to ≤ one row per key BEFORE the shuffle — at 100 TB
    * that is the difference between shuffling keys and sorting the
    * whole log. Deterministic while (ts, id mod 1000) is unique per
    * key (held by this data: no duplicate (user, ts) at any SF).
    */
  def ddLatestWins(t: Tables): DataFrame = {
    val ord = expr("unix_micros(ts) * 1000 + pmod(event_id, 1000)")
    t.events
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_id"), col("ts"), col("value")), ord).as("m"))
      .select(col("user_id"),
        col("m.event_id").as("latest_event"),
        unix_micros(col("m.ts")).as("ts_us"),
        col("m.value").as("value"))
  }

  val ddLatestWinsSql: String =
    """SELECT user_id,
      |  arg_max(event_id, epoch_us(ts) * 1000 + event_id % 1000) AS latest_event,
      |  arg_max(epoch_us(ts), epoch_us(ts) * 1000 + event_id % 1000) AS ts_us,
      |  arg_max(value, epoch_us(ts) * 1000 + event_id % 1000) AS value
      |FROM events GROUP BY user_id""".stripMargin

  /** D27: per-column data profile (rows / nulls / exact distinct)
    * in ONE aggregation pass — the release-validation report; see
    * [[graft.operators.Profiler]] for the Expand-based scale shape.
    */
  def qProfile(t: Tables): DataFrame =
    graft.operators.Profiler.profile(
      t.events,
      Seq("event_id", "user_id", "value", "event_type"))

  val qProfileSql: String =
    """WITH s AS (SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS a_n, count(DISTINCT event_id) AS a_d,
      |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS b_n, count(DISTINCT user_id) AS b_d,
      |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c_n, count(DISTINCT value) AS c_d,
      |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_n, count(DISTINCT event_type) AS d_d
      |  FROM events)
      |SELECT 'event_id' AS "column", n_rows, a_n AS n_nulls, a_d AS n_distinct FROM s
      |UNION ALL SELECT 'user_id', n_rows, b_n, b_d FROM s
      |UNION ALL SELECT 'value', n_rows, c_n, c_d FROM s
      |UNION ALL SELECT 'event_type', n_rows, d_n, d_d FROM s""".stripMargin

  /** D26: time-series densification + gap fill — per-user hourly
    * grid between that user's first and last hour, missing hours
    * carry the last observed hourly sum forward (LOCF). The grid is
    * generated per group (`sequence` explode bounded by the user's
    * own span — no global calendar cross join), re-joined on the
    * (user, hour) key the hourly rollup already shuffled on, and
    * filled with one running `last(ignoreNulls)` window — the
    * resample+ffill shape feature pipelines run before windowed
    * training joins.
    */
  def qGapFill(t: Tables): DataFrame = {
    val hourly = t.events
      .withColumn("hr", expr("unix_micros(ts) div 3600000000"))
      .groupBy(col("user_id"), col("hr"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("hr_value"))
    val grid = hourly.groupBy(col("user_id"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hr"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        round(last(col("hr_value"), ignoreNulls = true).over(w), 4).as("carried_value"))
  }

  val qGapFillSql: String =
    """WITH hourly AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
      |    count(*) AS n, sum(value) AS v
      |  FROM events GROUP BY 1, 2),
      |spans AS (
      |  SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM spans)
      |SELECT g.user_id, g.hr, coalesce(h.n, 0) AS n_events,
      |  round(last_value(h.v IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0 AS carried_value
      |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr""".stripMargin

  /** G9: Gopher-style repetition metrics + flag per document. */
  def txRepetition(t: Tables): DataFrame =
    TextOps.repetitionMetrics(t.documents, "text", "doc_id")
      .withColumn("repetitive", col("repetitive").cast("int").cast("long"))

  val txRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |wc AS (
      |  SELECT doc_id, max(c) AS top_w, sum(c) AS n_tok FROM (
      |    SELECT doc_id, w, count(*) AS c FROM (
      |      SELECT doc_id, unnest(t) AS w FROM toks) x GROUP BY 1, 2) y
      |  GROUP BY 1),
      |bc AS (
      |  SELECT doc_id, max(c) AS top_b, sum(c) AS n_bg FROM (
      |    SELECT doc_id, b, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |        i -> concat_ws(' ', t[i], t[i+1]))) AS b
      |      FROM toks) x GROUP BY 1, 2) y
      |  GROUP BY 1),
      |tc AS (
      |  SELECT doc_id, count(*) AS n_tri, count(DISTINCT g) AS d_tri FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
      |    FROM toks) x
      |  GROUP BY 1)
      |SELECT doc_id,
      |  round(top_w / n_tok, 4) + 0 AS top_word_frac,
      |  round(coalesce(top_b / n_bg, 0), 4) + 0 AS top_bigram_frac,
      |  round(coalesce(1.0 - d_tri / n_tri, 0), 4) + 0 AS dup_trigram_frac,
      |  CAST(CASE WHEN round(top_w / n_tok, 4) > 0.20
      |         OR round(coalesce(top_b / n_bg, 0), 4) > 0.18
      |         OR round(coalesce(1.0 - d_tri / n_tri, 0), 4) > 0.30
      |       THEN 1 ELSE 0 END AS BIGINT) AS repetitive
      |FROM wc LEFT JOIN bc USING (doc_id) LEFT JOIN tc USING (doc_id)""".stripMargin

  /** G10: fixed-size token chunking with overlap (40-token chunks,
    * 10-token overlap — context-window preparation).
    */
  def txChunk(t: Tables): DataFrame =
    TextOps.chunk(t.documents, "text", "doc_id", 40, 10)

  val txChunkSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t,
      |         len(regexp_split_to_array(trim(text), '\s+')) AS n
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, t, n,
      |    unnest(range(0, greatest(CAST(ceil((n - 10) / 30.0) AS BIGINT), 1))) AS chunk_idx
      |  FROM toks)
      |SELECT doc_id, chunk_idx,
      |  len(list_slice(t, chunk_idx * 30 + 1, chunk_idx * 30 + 40)) AS chunk_tokens,
      |  array_to_string(list_slice(t, chunk_idx * 30 + 1, chunk_idx * 30 + 40), ' ') AS chunk_text
      |FROM idx""".stripMargin

  /** N3: concat-and-chunk sequence packing into 256-token budgets per
    * language shard; per-pack rollup keeps the output pack-sized.
    */
  def smPackSequences(t: Tables): DataFrame = {
    val docs = t.documents.select(
      col("lang"), col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"))
    Sampling.packSequences(docs, "lang", "doc_id", "n_tokens", 256)
      .groupBy(col("lang"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        sum(col("straddles").cast("long")).as("n_straddle"))
  }

  val smPackSequencesSql: String =
    """WITH docs AS (
      |  SELECT lang, doc_id,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT lang, doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM docs)
      |SELECT lang, (cum - n_tokens) // 256 AS pack_id,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
      |  CAST(sum(CASE WHEN (cum - 1) // 256 > (cum - n_tokens) // 256
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
      |FROM packed GROUP BY 1, 2""".stripMargin

  /** N4: temperature (α = 0.7) source rebalancing — keep rate per
    * source ∝ token-mass^(α−1) (kept mass ∝ mass^α), id-bucket keep
    * decisions. Output is the per-source kept/total census so the
    * oracle checks every row's keep decision in aggregate.
    */
  def smTemperature(t: Tables): DataFrame = {
    val docs = t.documents.select(
      col("doc_id"), col("source"),
      TextOps.tokenCount(col("text")).as("n_tokens"))
    // Aggregate-sized (one row per source) — collected and folded
    // into literal thresholds; the data pass stays map-only.
    val masses = docs.groupBy(col("source")).agg(sum(col("n_tokens")).as("mass"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keep = Sampling.temperatureKeep(col("doc_id"), col("source"), masses, 0.7)
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_total"),
      sum(when(keep, 1L).otherwise(0L)).as("n_kept"))
  }

  val smTemperatureSql: String =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
      |  FROM documents),
      |m AS (SELECT source, sum(n_tokens) AS mass FROM docs GROUP BY 1),
      |r AS (SELECT source,
      |        CAST(round(round(pow(mass, 0.7 - 1) / (SELECT max(pow(mass, 0.7 - 1)) FROM m), 4)
      |          * 1000000, 0) AS BIGINT) AS thr
      |      FROM m)
      |SELECT source, count(*) AS n_total,
      |  CAST(sum(CASE WHEN (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007)
      |        % 1000000 < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM docs JOIN r USING (source) GROUP BY 1""".stripMargin

  /** G11: corpus unigram LM score per document (mean ln P(token)) —
    * the cheap fluency proxy before model-based filtering.
    */
  def txUnigramLogprob(t: Tables): DataFrame =
    TextOps.unigramLogprob(t.documents, "text", "doc_id")

  /** G19: the Count-Min-Sketch twin of G11
    * ([[graft.operators.TextOps.unigramLogprobSketch]]) — the vocab
    * join replaced by a fixed-size sketch probe. Rows-only registry
    * entry (counter collisions are sketch-internal); the spec pins
    * the CMS one-sided guarantee against exact counts.
    */
  def txUnigramLogprobSketch(t: Tables): DataFrame =
    TextOps.unigramLogprobSketch(t.documents, "text", "doc_id")

  val txUnigramLogprobSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |freq AS (SELECT term, count(*) AS tf FROM terms GROUP BY 1),
      |total AS (SELECT count(*) AS n_total FROM terms)
      |SELECT doc_id,
      |  round(avg(ln(tf / n_total)), 4) + 0 AS mean_logprob,
      |  count(*) AS n_tokens
      |FROM terms JOIN freq USING (term) CROSS JOIN total
      |GROUP BY doc_id""".stripMargin

  /** G12: corpus bigram-LM score per document — word-order-aware
    * fluency (shuffled text scores low even with common words).
    */
  def txBigramLogprob(t: Tables): DataFrame =
    TextOps.bigramLogprob(t.documents, "text", "doc_id")

  /** Mirrors the Scala compacted shape: per-doc bigram counts, then
    * the n-weighted mean — so both engines share one summation
    * structure.
    */
  val txBigramLogprobSql: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1]))) AS b
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |        FROM documents) x),
      |db AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
      |freq AS (SELECT b, sum(n) AS cb FROM db GROUP BY 1),
      |ff AS (SELECT split_part(b, ' ', 1) AS w1, sum(cb) AS cw FROM freq GROUP BY 1),
      |probs AS (SELECT b, cb / cw AS p
      |          FROM freq JOIN ff ON split_part(b, ' ', 1) = w1)
      |SELECT doc_id,
      |  round(sum(n * ln(p)) / sum(n), 4) + 0 AS mean_bigram_logprob,
      |  CAST(sum(n) AS BIGINT) AS n_bigrams
      |FROM db JOIN probs USING (b)
      |GROUP BY doc_id""".stripMargin

  /** E9: benchmark decontamination — train docs (doc_id % 97 ≠ 0)
    * sharing any 5-gram with the eval slice (doc_id % 97 = 0);
    * broadcast eval shingle set, map-only train scan.
    */
  def ddDecontaminate(t: Tables): DataFrame = {
    val docs = t.documents
    Dedup.decontaminate(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0),
      "text", "doc_id", 5)
  }

  /** E9-bloom: decontamination with the eval set as a Bloom filter
    * ([[graft.operators.Dedup.decontaminateBloom]]) — ~7× smaller
    * executor footprint than the exact hash broadcast, map-only
    * scan, superset-with-bounded-FPR semantics — stated as its
    * one-sided-error invariant. The filter's bit pattern is
    * engine-specific, so the registry row emits what a Bloom filter
    * CONTRACTS: (a) the exact flagged count (cross-checked by the
    * exact E9 SQL), (b) zero false negatives — every exact-flagged
    * doc is bloom-flagged (anti-join cardinality 0), and (c) bounded
    * inflation — bloom-flagged ≤ exact + 5·fpp·probes + 16 (5× the
    * expected false-hit count at fpp = 1%; Chernoff puts exceeding
    * that at < e⁻ᵐᵉᵃⁿ, plus an additive floor for tiny scales). The
    * full flagged list remains available via the operator
    * (PipelineOpsSpec asserts the same two properties row-wise).
    */
  def ddDecontaminateBloom(t: Tables): DataFrame = {
    val docs = t.documents
    val train = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val exact = Dedup.decontaminate(train, evalDocs, "text", "doc_id", 5)
      .select(col("doc_id")).localCheckpoint(true)
    val bloomed = Dedup.decontaminateBloom(train, evalDocs, "text", "doc_id", 5)
      .select(col("doc_id")).localCheckpoint(true)
    // total membership probes the train scan makes (distinct
    // shingle hashes per doc) — the false-positive budget's n.
    val probes = train
      .select(explode(graft.functions.NgramXxHashes(col("text"), 5)).as("sh"))
      .agg(count(lit(1)).as("n_probes"))
    exact.agg(count(lit(1)).as("n_exact_flagged"))
      .crossJoin(exact.join(bloomed, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_missed")))
      .crossJoin(bloomed.agg(count(lit(1)).as("n_bloom")))
      .crossJoin(probes)
      .select(
        col("n_exact_flagged"),
        (col("n_missed") === 0L).cast("long").as("no_false_negatives"),
        (col("n_bloom") * lit(100L) <=
          col("n_exact_flagged") * lit(100L) + col("n_probes") * lit(5L) + lit(1600L))
          .cast("long").as("inflation_ok"))
  }

  val ddDecontaminateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 4, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS s
      |  FROM toks),
      |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
      |SELECT doc_id, count(*) AS n_shared
      |FROM sh JOIN ev USING (s)
      |WHERE doc_id % 97 <> 0
      |GROUP BY doc_id""".stripMargin

  /** The Bloom variant's fixed point: exact flagged cardinality from
    * the exact E9 SQL; the two one-sided-error gates stated as the
    * invariants they must land on.
    */
  val ddDecontaminateBloomSql: String =
    s"""WITH exact AS ($ddDecontaminateSql)
       |SELECT count(*) AS n_exact_flagged,
       |  CAST(1 AS BIGINT) AS no_false_negatives,
       |  CAST(1 AS BIGINT) AS inflation_ok
       |FROM exact""".stripMargin

  /** N5: per-source document cap — top 50 docs per source by
    * quality score (ties by doc_id), the per-domain cap of a
    * pretraining mix.
    */
  def smCapPerSource(t: Tables): DataFrame = {
    val docs = t.documents.select(
      col("doc_id"), col("source"),
      TextOps.qualityScore(col("text")).as("quality"))
    Sampling.capPerGroup(docs, "source", "quality", "doc_id", 50)
  }

  val smCapPerSourceSql: String =
    s"""WITH q AS (${LlmQueries.txQualitySql})
       |SELECT doc_id, source, quality,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY quality DESC, doc_id) AS BIGINT) AS rank_in_group
       |FROM q JOIN documents USING (doc_id)
       |QUALIFY rank_in_group <= 50""".stripMargin

  /** C8: Z-order (Morton) spatial key per event point over the
    * (0,0)-(500,100) frame — the clustering key that makes
    * range-sorted parquet footers tight spatial tiles (file-level
    * bbox pruning at 100 TB).
    */
  def geoZorder(t: Tables): DataFrame = {
    val pts = t.events.select(
      col("event_id"),
      col("value").as("x"),
      get_json_object(col("props"), "$.k").cast("double").as("y"))
    pts.select(
      col("event_id"),
      graft.operators.Geo.mortonKey(col("x"), col("y"), 0.0, 0.0, 500.0, 100.0).as("zkey"))
      .withColumn("zbucket", shiftright(col("zkey"), 20))
  }

  /** D24: non-hierarchical GROUPING SETS — per-returnflag, per-
    * linestatus, and grand-total aggregates in ONE pass (rollup/cube
    * can't express this set list). Exact decimal sum as in D22.
    */
  def qGroupingSets(t: Tables): DataFrame =
    t.lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 4).as("sum_qty"))

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) + 0 AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin

  /** D25: CDC snapshot diff — previous snapshot simulated as the
    * docs with doc_id % 7 ≠ 0 (docs % 5 = 0 carrying edited text),
    * current as docs with doc_id % 11 ≠ 0; classify added / removed
    * / changed from (key, content-hash) pairs only.
    */
  def qSnapshotDiff(t: Tables): DataFrame = {
    val docs = t.documents
    val prev = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5)) === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val cur = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
    SnapshotDiff.diff(prev, cur, "doc_id", Seq("text"))
  }

  val qSnapshotDiffSql: String =
    """WITH prev AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0),
      |cur AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
      |j AS (
      |  SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
      |    CASE WHEN p.doc_id IS NULL THEN 'added'
      |         WHEN c.doc_id IS NULL THEN 'removed'
      |         WHEN md5(p.text) <> md5(c.text) THEN 'changed' END AS change
      |  FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
      |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin

  /** K5: media near-dup via decoded-feature blocking (the coarse
    * sibling of the K7 pHash path): block on (width, height,
    * channels), verify mean-intensity delta ≤ 0.5 on 4-dp means.
    * Re-pointed (round 11) at the REAL `javax.imageio` decode of
    * staged PNG ramps (the K9 pattern) — the mean intensity is an
    * exact rational of the decoded per-channel sums, so a one-byte
    * codec mis-parse moves a block off its twin.
    */
  def mmFeatureNeardup(t: Tables): DataFrame = {
    val feats = graft.operators.Multimodal.decodeImageStats(
      Pipeline62.stagedImages(t, "png"), "doc_id", "payload")
      .select(col("media_id"),
        col("width").cast("int").as("width"),
        col("height").cast("int").as("height"),
        col("n_channels").cast("int").as("n_frames"),
        ((col("sum_r") + col("sum_g") + col("sum_b")).cast("double") /
          (lit(3.0) * col("width") * col("height"))).as("mean_intensity"))
    graft.operators.Multimodal.featureNearDup(feats, 0.5)
  }

  val mmFeatureNeardupSql: String =
    """WITH f AS (
      |  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + (doc_id // 9) % 7 AS h,
      |    doc_id % 64 AS base
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, w, h,
      |    base + 64 + (w - 1) / 2.0 + (h - 1) / 2.0 AS mi
      |  FROM f)
      |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
      |  round(abs(a.mi - b.mi), 4) + 0 AS intensity_delta
      |FROM g a JOIN g b
      |  ON a.w = b.w AND a.h = b.h AND a.doc_id < b.doc_id
      |WHERE abs(a.mi - b.mi) <= 0.5""".stripMargin

  val geoZorderSql: String =
    """WITH pts AS (
      |  SELECT event_id, value AS x,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |  FROM events),
      |q AS (
      |  SELECT event_id,
      |    least(greatest(CAST(floor((x - 0.0) / 500.0 * 65535) AS BIGINT), 0), 65535) AS qx,
      |    least(greatest(CAST(floor((y - 0.0) / 100.0 * 65535) AS BIGINT), 0), 65535) AS qy
      |  FROM pts),
      |s1 AS (SELECT event_id, (qx | (qx << 8)) & 16711935 AS x1, (qy | (qy << 8)) & 16711935 AS y1 FROM q),
      |s2 AS (SELECT event_id, (x1 | (x1 << 4)) & 252645135 AS x2, (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
      |s3 AS (SELECT event_id, (x2 | (x2 << 2)) & 858993459 AS x3, (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
      |s4 AS (SELECT event_id, (x3 | (x3 << 1)) & 1431655765 AS x4, (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3)
      |SELECT event_id, x4 | (y4 << 1) AS zkey, (x4 | (y4 << 1)) >> 20 AS zbucket
      |FROM s4""".stripMargin
}
