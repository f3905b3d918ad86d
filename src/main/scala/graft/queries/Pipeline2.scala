package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 batch 3: product-analytics and corpus-hygiene operators —
  * staged funnels, SCD2 interval builds, touch attribution,
  * nearest-site assignment, C4-style cross-corpus span dedup,
  * robust (MAD) outlier detection, weighted source interleaving.
  * Every entry is a SURVEY §2 row with a DuckDB oracle.
  */
object Pipeline2 {

  /** D30: staged conversion funnel view → click → purchase with
    * strictly-after semantics (each stage's timestamp must exceed
    * the previous stage's). Three aggregations all keyed on
    * user_id, so the stage joins reuse one exchange; output is the
    * 3-row summary (reference: the sector queries' staged
    * category→subtype filters, queries.yml).
    */
  def qFunnel(t: Tables): DataFrame = {
    // Single pass: per-user time-sorted event list folded into the
    // three stage timestamps (first view, first click after it,
    // first purchase after that) — ONE shuffle on user_id, vs the
    // textbook 3-agg + 2-join formulation that moves the user key
    // five times. The fold is the same greedy the staged joins
    // compute: min-after == first-in-order.
    val nul = lit(null).cast("long")
    val folded = t.events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type").as("et")))).as("seq"))
      .select(aggregate(col("seq"),
        struct(nul.as("t1"), nul.as("t2"), nul.as("t3")),
        (acc, e) => {
          val ts = e.getField("ts_us"); val et = e.getField("et")
          struct(
            when(acc.getField("t1").isNull && et === "view", ts)
              .otherwise(acc.getField("t1")).as("t1"),
            when(acc.getField("t2").isNull && et === "click" &&
              acc.getField("t1").isNotNull && ts > acc.getField("t1"), ts)
              .otherwise(acc.getField("t2")).as("t2"),
            when(acc.getField("t3").isNull && et === "purchase" &&
              acc.getField("t2").isNotNull && ts > acc.getField("t2"), ts)
              .otherwise(acc.getField("t3")).as("t3"))
        }).as("s"))
    val counts = folded.agg(
      sum(when(col("s.t1").isNotNull, 1L).otherwise(0L)).as("n1"),
      sum(when(col("s.t2").isNotNull, 1L).otherwise(0L)).as("n2"),
      sum(when(col("s.t3").isNotNull, 1L).otherwise(0L)).as("n3"))
    counts.select(explode(array(
      struct(lit(1).as("stage"), lit("view").as("step"), col("n1").as("n_users")),
      struct(lit(2).as("stage"), lit("click").as("step"), col("n2").as("n_users")),
      struct(lit(3).as("stage"), lit("purchase").as("step"), col("n3").as("n_users")))))
      .select(col("col.*"))
  }

  val qFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1)
      |SELECT 1 AS stage, 'view' AS step, (SELECT count(*) FROM s1) AS n_users
      |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
      |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)""".stripMargin

  /** D31: SCD2 history build from a CDC-style log — per key, each
    * change event becomes a validity interval [valid_from, valid_to)
    * with the open interval flagged current. ONE shuffle on the key;
    * `lead` closes each interval with the next change's timestamp
    * (the warehouse dimension-history primitive behind the
    * reference's incremental publish modes, publish.py).
    */
  def qScd2(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us"), col("event_id"))
    t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("valid_from_us"), col("value"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  val qScd2Sql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS valid_from_us, value,
      |  lead(epoch_us(ts)) OVER w AS valid_to_us,
      |  lead(epoch_us(ts)) OVER w IS NULL AS is_current
      |FROM events WHERE event_type = 'purchase'
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin

  /** D32: first/last-touch attribution — per user, the event type of
    * the earliest and latest event plus engagement totals, via
    * min_by/max_by on a (ts, event_id) struct key: the aggregate
    * combines map-side (each partition reduces to one candidate per
    * key before the shuffle), where the row_number formulation would
    * sort the whole log.
    */
  def qFirstLastTouch(t: Tables): DataFrame = {
    val ord = struct(col("ts_us"), col("event_id"))
    t.events.select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .groupBy(col("user_id"))
      .agg(
        min_by(col("event_type"), ord).as("first_touch"),
        max_by(col("event_type"), ord).as("last_touch"),
        round(sum(col("value")), 4).as("total_value"),
        count(lit(1)).as("n_events"))
  }

  val qFirstLastTouchSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rn_first,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn_last
      |  FROM events)
      |SELECT user_id,
      |  max(CASE WHEN rn_first = 1 THEN event_type END) AS first_touch,
      |  max(CASE WHEN rn_last = 1 THEN event_type END) AS last_touch,
      |  round(sum(value), 4) + 0 AS total_value,
      |  count(*) AS n_events
      |FROM r GROUP BY user_id""".stripMargin

  /** C9: nearest-site assignment (spatial NN join). The site table
    * is dimension-sized, so it collapses to ONE array-of-structs
    * literal folded per point — a map-only scan, zero shuffle, vs
    * the naive cross-join + argmin that shuffles every (point, site)
    * pair. Ties break to the lowest site_id (strict `<` over the
    * id-ordered array). Site coords derive deterministically from
    * the nation dim.
    */
  def geoNearest(t: Tables): DataFrame = {
    val sites = t.nation.select(
        col("n_nationkey").cast("long").as("site_id"),
        pmod(col("n_nationkey") * 37, lit(127)).cast("double").as("sx"),
        pmod(col("n_nationkey") * 59, lit(89)).cast("double").as("sy"))
      .orderBy(col("site_id")).collect()
    if (sites.isEmpty)
      // No sites: nothing to assign events to. (array() of zero
      // struct literals types as ARRAY<VOID> and breaks the fold.)
      return t.events.select(col("event_id"),
        lit(-1L).as("site_id"), lit(0.0).as("dist")).limit(0)
    val siteArr = array(sites.toIndexedSeq.map(r => struct(
      lit(r.getLong(0)).as("site_id"),
      lit(r.getDouble(1)).as("sx"),
      lit(r.getDouble(2)).as("sy"))): _*)
    val init = struct(
      lit(Double.MaxValue).as("d2"), lit(-1L).as("site_id"))
    t.events.select(
        col("event_id"), col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      .withColumn("best", aggregate(siteArr, init, (acc, s) => {
        val d2 = (col("x") - s.getField("sx")) * (col("x") - s.getField("sx")) +
          (col("y") - s.getField("sy")) * (col("y") - s.getField("sy"))
        when(d2 < acc.getField("d2"),
          struct(d2.as("d2"), s.getField("site_id").as("site_id")))
          .otherwise(acc)
      }))
      .select(col("event_id"), col("best.site_id").as("site_id"),
        round(sqrt(col("best.d2")), 4).as("dist"))
  }

  val geoNearestSql: String =
    """WITH sites AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS site_id,
      |    CAST((n_nationkey * 37) % 127 AS DOUBLE) AS sx,
      |    CAST((n_nationkey * 59) % 89 AS DOUBLE) AS sy
      |  FROM nation),
      |p AS (SELECT event_id, value AS x,
      |        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |      FROM events),
      |d AS (SELECT event_id, site_id,
      |        (x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2,
      |        row_number() OVER (PARTITION BY event_id
      |          ORDER BY (x - sx) * (x - sx) + (y - sy) * (y - sy), site_id) AS rn
      |      FROM p CROSS JOIN sites)
      |SELECT event_id, site_id, round(sqrt(d2), 4) + 0 AS dist
      |FROM d WHERE rn = 1""".stripMargin

  /** E12: C4-style cross-corpus span dedup — split every document
    * into 8-word spans, keep only each span's FIRST corpus
    * occurrence (min (doc_id, idx)), reassemble the surviving text
    * in original order. The span TEXT never enters the dedup
    * shuffle: the window keys on xxhash64(span), so the exchange
    * carries (doc_id, idx, hash) at ~20 bytes/row instead of the
    * raw 8-word string (~3× fewer shuffle bytes, fixed-width sort
    * keys). Survivor indexes roll up per doc_id and the text
    * rejoins ONCE per document (doc-keyed shuffle join that reuses
    * the rollup's partitioning); surviving spans are re-derived in
    * place from the same slice expression, so reassembly is
    * byte-exact. A 64-bit hash collision would merge two distinct
    * spans — ~n²/2⁶⁵ at corpus scale, the standard C4 trade.
    */
  def txSpanDedup(t: Tables): DataFrame = {
    val light = t.documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (ceil(size(col("toks")) / lit(8.0)) - 1).cast("int")),
          i => xxhash64(array_join(slice(col("toks"), i * 8 + 1, lit(8)), " ")))))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "h")
    val firstW = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("idx"))
    val kept = light
      .withColumn("rn", row_number().over(firstW))
      .filter(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx"))).as("kept_idx"))
    t.documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(kept, "doc_id")
      .select(col("doc_id"),
        ceil(size(col("toks")) / lit(8.0)).cast("long").as("n_spans"),
        size(col("kept_idx")).cast("long").as("n_kept"),
        array_join(transform(col("kept_idx"),
          i => array_join(slice(col("toks"), i * 8 + 1, lit(8)), " ")), " ")
          .as("text_kept"))
  }

  val txSpanDedupSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(ceil(len(string_split(text, ' ')) / 8.0) AS BIGINT) AS n_spans,
      |    i - 1 AS idx,
      |    array_to_string(
      |      string_split(text, ' ')[(i-1)*8+1 : (i-1)*8+8], ' ') AS span
      |  FROM documents, unnest(generate_series(1,
      |    CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT))) AS t(i)),
      |k AS (SELECT *, row_number() OVER (
      |        PARTITION BY span ORDER BY doc_id, idx) AS rn FROM s)
      |SELECT doc_id, min(n_spans) AS n_spans, count(*) AS n_kept,
      |  string_agg(span, ' ' ORDER BY idx) AS text_kept
      |FROM k WHERE rn = 1 GROUP BY doc_id""".stripMargin

  /** D33: robust outlier detection — per group, median and MAD
    * (median absolute deviation) via exact interpolated percentiles,
    * then |v − med| > 3·MAD counts. The medians come from
    * [[graft.operators.Quantiles.exactInterpolated]]'s window sort
    * (spill-bounded) instead of the `percentile` aggregate's
    * in-memory value-count map — the oracle-exact twin of
    * [[qOutlierMadApprox]], which is the 100-TB path. The stat
    * tables are group-sized and broadcast back onto one fact scan;
    * the data shuffles only for the sorts and the final rollup.
    */
  def qOutlierMad(t: Tables): DataFrame = {
    val e = t.events.select(col("event_type"), col("value"))
    val med = graft.operators.Quantiles
      .exactInterpolated(e, "event_type", "value", Seq("med" -> 0.5))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = graft.operators.Quantiles
      .exactInterpolated(dev, "event_type", "adev", Seq("mad" -> 0.5))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        round(min(col("med")), 4).as("median"),
        round(min(col("mad")), 4).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n"))
  }

  val qOutlierMadSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, abs(value - med) AS adev, med
      |  FROM events e JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type, round(min(d.med), 4) + 0 AS median,
      |  round(min(m.mad), 4) + 0 AS mad,
      |  CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  count(*) AS n
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type""".stripMargin

  /** D33-sketch: the 100-TB path for [[qOutlierMad]] — median and
    * MAD from `approx_percentile` (Greenwald-Khanna, mergeable
    * partial state, O(1/ε) memory per partition) instead of any
    * per-group sort or value map. Same output shape as the exact
    * twin; registered rows-only (sketch output is engine-specific),
    * with a spec bounding the approx median/MAD inside a ±1% rank
    * window of the exact values — the same honesty contract as
    * q_quantile_approx (D36).
    */
  def qOutlierMadApproxRaw(t: Tables): DataFrame = {
    val e = t.events.select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, 0.5d, 10000)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("approx_percentile(adev, 0.5d, 10000)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        round(min(col("med")), 4).as("median"),
        round(min(col("mad")), 4).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"),
        count(lit(1)).as("n"))
  }

  /** The ORACLED registry shape of D33-sketch (r12, same pattern as
    * [[qQuantileApprox]]): the approx median's exact rank interval
    * must intersect 0.5·n ± 1% in the value distribution, and the
    * approx MAD's must intersect 0.5·n ± 1% in the |value − med̂|
    * distribution med̂ itself induces (the MAD gate is CONDITIONAL
    * on the sketch's own median — exactly what the estimator
    * promises; DuckDB cannot recompute med̂, but it doesn't need
    * to: it restates the exact per-group count and the two 1s the
    * contract forces).
    */
  def qOutlierMadApprox(t: Tables): DataFrame = {
    val e = t.events.select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, 0.5d, 10000)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("approx_percentile(adev, 0.5d, 10000)").as("mad"))
    def rankGate(v: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) = {
      val cLt = sum(when(v < q, 1L).otherwise(0L))
      val cLe = sum(when(v <= q, 1L).otherwise(0L))
      val n = count(v)
      ((cLt * lit(100L) <= n * lit(51L)) &&
        (cLe * lit(100L) >= n * lit(49L))).cast("long")
    }
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(col("value")).as("n_rows"),
        rankGate(col("value"), col("med")).as("med_ok"),
        rankGate(col("adev"), col("mad")).as("mad_ok"))
  }

  val qOutlierMadApproxSql: String =
    """SELECT event_type, CAST(count(value) AS BIGINT) AS n_rows,
      |  CAST(1 AS BIGINT) AS med_ok, CAST(1 AS BIGINT) AS mad_ok
      |FROM events GROUP BY event_type""".stripMargin

  /** N6: weighted source interleave — deterministic curriculum
    * mixing order across corpus sources. Each doc's mix key is
    * (rank_within_source − 1) / weight, so a weight-3 source
    * contributes 3 docs for every 1 from a weight-1 source when the
    * corpus is consumed in mix-key order. The key is pure column
    * math over a per-source window (one shuffle); the global merge
    * is a sort at READ time, never a single-partition window.
    */
  def smInterleave(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    t.documents.select(col("doc_id"), col("source"))
      // coalesce(…, 0): a digit-free source name falls back to
      // weight 1 instead of a null mix_key (the oracle try_casts the
      // same way, so neither engine errs or diverges).
      .withColumn("weight",
        (coalesce(regexp_extract(col("source"), "\\d+", 0).cast("int"), lit(0))
          % 4 + 1).cast("double"))
      .withColumn("src_rank", row_number().over(w))
      .withColumn("mix_key",
        round((col("src_rank") - 1).cast("double") / col("weight"), 4))
      .drop("weight")
  }

  val smInterleaveSql: String =
    """SELECT doc_id, source,
      |  row_number() OVER w AS src_rank,
      |  round((row_number() OVER w - 1) /
      |    CAST(coalesce(try_cast(regexp_extract(source, '\d+') AS INT), 0) % 4 + 1 AS DOUBLE),
      |    4) + 0 AS mix_key
      |FROM documents
      |WINDOW w AS (PARTITION BY source ORDER BY doc_id)""".stripMargin

  /** D34: MERGE INTO — apply a CDC change batch (insert / update /
    * delete ops) to a dimension snapshot in one full-outer join,
    * the lakehouse upsert primitive behind the reference's
    * AUTO/APPEND publish modes (publish.py). The change batch
    * derives from the event log: any-error users are deletes,
    * active users update their balance, high-activity users also
    * insert a shadow row under a fresh (negative) key — guaranteed
    * key-disjoint from the snapshot at every SF. One shuffle per
    * side on the merge key.
    */
  def qMergeUpsert(t: Tables): DataFrame = {
    val agg = t.events.groupBy(col("user_id")).agg(
      max(col("event_type") === "error").as("has_err"),
      round(sum(when(col("event_type") === "purchase", col("value"))
        .otherwise(lit(0.0))), 4).as("delta"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"))
    // Both change kinds flat-map out of ONE pass over the aggregate
    // (a union of two selects would recompute the event-log shuffle).
    val changes = agg
      .select(explode(filter(array(
        struct(col("user_id").as("key"),
          when(col("has_err"), lit("D")).otherwise(lit("U")).as("op"),
          col("delta")),
        struct((-col("user_id") - 1).as("key"),
          when(col("n_purch") >= 3, lit("I")).otherwise(lit(null).cast("string")).as("op"),
          col("delta"))),
        c => c.getField("op").isNotNull)).as("c"))
      .select(col("c.*"))
    t.customer.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .join(changes, col("c_custkey") === col("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("c_custkey"), col("key")).as("c_custkey"),
        col("c_name"),
        round(coalesce(col("c_acctbal"), lit(0.0)) +
          when(col("op").isNotNull, col("delta")).otherwise(lit(0.0)), 4).as("bal"),
        when(col("op").isNull, lit("unchanged"))
          .when(col("op") === "I", lit("inserted"))
          .otherwise(lit("updated")).as("status"))
  }

  val qMergeUpsertSql: String =
    """WITH agg AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1 AS has_err,
      |    round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 4)
      |      AS delta,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purch
      |  FROM events GROUP BY 1),
      |changes AS (
      |  SELECT user_id AS key, CASE WHEN has_err THEN 'D' ELSE 'U' END AS op, delta
      |  FROM agg
      |  UNION ALL
      |  SELECT -user_id - 1, 'I', delta FROM agg WHERE n_purch >= 3)
      |SELECT coalesce(c_custkey, key) AS c_custkey, c_name,
      |  round(coalesce(c_acctbal, 0.0) +
      |    CASE WHEN op IS NOT NULL THEN delta ELSE 0.0 END, 4) + 0 AS bal,
      |  CASE WHEN op IS NULL THEN 'unchanged'
      |       WHEN op = 'I' THEN 'inserted' ELSE 'updated' END AS status
      |FROM customer FULL OUTER JOIN changes ON c_custkey = key
      |WHERE op IS NULL OR op != 'D'""".stripMargin

  /** A15: incremental high-watermark read — the freshness pattern
    * behind the reference's cache fallback (source.py release
    * checks): a published snapshot's max timestamp becomes a
    * pushed-down range predicate on the raw parquet long column, so
    * parquet row-group stats prune everything already published.
    * The watermark is one aggregate scalar through the driver; the
    * incremental scan is map-only.
    */
  def srcIncremental(t: Tables): DataFrame = {
    // published snapshot = first two weeks; predicate in the raw ts
    // column's own physical type (nano-long or timestamp) so it
    // stays pushable to parquet row-group stats
    val cutoffUs = 1705276800000000L // 2024-01-15T00:00:00Z
    val raw = t.table("events")
    val tsType = raw.schema("ts").dataType
    val tsUs = Tables.tsMicrosExpr(tsType, col("ts"))
    val wmRow = raw.filter(col("ts") < Tables.tsBoundLit(tsType, cutoffUs))
      .agg(max(tsUs).as("wm")).head()
    // No published snapshot yet (first run / empty source): the
    // watermark degrades to -1 and the incremental read becomes the
    // full-backlog read — the correct day-one semantics, not an error.
    val wmUs = if (wmRow.isNullAt(0)) -1L else wmRow.getLong(0)
    raw.filter(col("ts") >= Tables.tsBoundLit(tsType, wmUs + 1)) // pushable range
      .select(col("event_type"), tsUs.as("ts_us"), col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"),
        min(col("ts_us")).as("first_us"),
        max(col("ts_us")).as("last_us"))
      .withColumn("watermark_us", lit(wmUs))
  }

  // coalesce(wm_us, -1) mirrors the Spark side's day-one fallback:
  // with nothing published before the cutoff, ts > NULL would filter
  // everything here while Spark returns the full backlog.
  val srcIncrementalSql: String =
    """WITH wm AS (
      |  SELECT coalesce(max(epoch_us(ts)), -1) AS wm_us FROM events
      |  WHERE epoch_us(ts) < 1705276800000000)
      |SELECT event_type, count(*) AS n_new,
      |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
      |  (SELECT wm_us FROM wm) AS watermark_us
      |FROM events WHERE epoch_us(ts) > (SELECT wm_us FROM wm)
      |GROUP BY event_type""".stripMargin

  /** D35: expanding (lifetime-to-date) window — per-user running
    * engagement totals ordered by event time: the
    * unbounded-preceding frame that trailing windows (D15) and
    * range frames (D23) don't cover. One shuffle on the key.
    */
  def qExpanding(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.events.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("ltd_value", round(sum(col("value")).over(w), 4))
      .withColumn("ltd_n", count(lit(1)).over(w))
  }

  val qExpandingSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
      |  round(sum(value) OVER w, 4) + 0 AS ltd_value,
      |  count(*) OVER w AS ltd_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** E13: sketch-precision report — MinHash estimated Jaccard (E2)
    * joined to exact n-gram Jaccard (E4) on the confirmed near-dup
    * pairs, with the absolute estimation error per pair. The
    * measurement loop that justifies running the sketch at 100 TB
    * instead of the exact index.
    */
  def ddSketchPrecision(t: Tables): DataFrame =
    LlmQueries.ddMinhashLsh(t)
      .join(LlmQueries.ngramPairs(t), Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 4).as("abs_err"))

  val ddSketchPrecisionSql: String =
    s"""WITH est AS (${LlmQueries.ddMinhashLshSql}),
       |ex AS (${LlmQueries.ddNgramJaccardSql})
       |SELECT est.doc_a, est.doc_b, est.est_jaccard, ex.jaccard,
       |  round(abs(est.est_jaccard - ex.jaccard), 4) + 0 AS abs_err
       |FROM est JOIN ex ON est.doc_a = ex.doc_a AND est.doc_b = ex.doc_b""".stripMargin

  /** N7: leakage-safe (dedup-aware) train/val/test split — the
    * assignment hashes the near-dup COMPONENT label, not the doc id,
    * so a whole duplicate group lands in one split and eval can
    * never see a near-copy of a training document. Reuses the
    * session-cached CC labels (singletons label themselves); beyond
    * them this is one map-side split expression + the doc-key join.
    */
  def smLeakageSafeSplit(t: Tables): DataFrame = {
    val cc = LlmQueries.ccLabels(t)
    t.documents.select(col("doc_id"))
      .join(cc, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("split",
        graft.operators.Sampling.splitAssign(col("component"), 80, 10))
  }

  val smLeakageSafeSplitSql: String =
    s"""WITH RECURSIVE pairs AS (${LlmQueries.ddNgramJaccardSql}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |labeled AS (
       |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
       |SELECT doc_id, component,
       |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, component,
       |        (((component % 1000000007) * 2654435761 + 1013904223)
       |          % 1000000007) % 100 AS b
       |      FROM labeled) x""".stripMargin

  /** M7: training-data manifest — the composed END of the prep
    * pipeline: cleaned survivors (M1) × leakage-safe splits (N7) ×
    * token budgets, rolled up per (split, source). This is the
    * report a training run is actually launched from: how many
    * documents and tokens each split draws from each source, at
    * what mean quality. Everything upstream is shared/cached
    * subtrees; the rollup adds one group-key shuffle.
    */
  def pipeManifest(t: Tables): DataFrame = {
    val clean = LlmQueries.pipeCleanCorpus(t).select(col("doc_id"), col("quality"))
    val splits = smLeakageSafeSplit(t).select(col("doc_id"), col("split"))
    val docs = t.documents.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    clean.join(splits, "doc_id").join(docs, "doc_id")
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        // sum, not mean: averaging 4-dp-rounded values lands
        // EXACTLY on .00005 boundaries (observed at sf0.001), where
        // engines' half-rounding diverges; the sum of 4-dp values
        // stays 5e-5 away from every boundary.
        round(sum(col("quality")), 4).as("total_quality"))
  }

  // Composes the N7 split SQL verbatim as a nested CTE — the hash
  // constants and split thresholds live in ONE place, exactly as the
  // Spark side reuses smLeakageSafeSplit.
  val pipeManifestSql: String =
    s"""WITH clean AS (${LlmQueries.pipeCleanCorpusSql}),
       |assigned AS (${smLeakageSafeSplitSql}),
       |docs AS (
       |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
       |  FROM documents)
       |SELECT a.split, d.source, count(*) AS n_docs,
       |  CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens,
       |  round(sum(c.quality), 4) + 0 AS total_quality
       |FROM clean c JOIN assigned a USING (doc_id) JOIN docs d USING (doc_id)
       |GROUP BY 1, 2""".stripMargin

  /** K6: WebDataset-style shard manifest over binary payloads
    * ([[graft.operators.Multimodal.shardManifest]]) — whole
    * payloads greedily packed into 4 KiB-budget shards per source,
    * rolled up per shard. The tar-shard index a media training
    * pipeline writes before uploading.
    */
  def mmShardManifest(t: Tables): DataFrame =
    graft.operators.Multimodal.shardManifest(
      t.documents.select(col("source"), col("doc_id"),
        length(col("text").cast("binary")).as("n_bytes")),
      "source", "doc_id", "n_bytes", budget = 4096L)
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_items"),
        min(col("offset")).as("first_offset"),
        max(col("offset")).as("last_offset"))

  val mmShardManifestSql: String =
    """WITH RECURSIVE p AS (
      |  SELECT source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS i,
      |    doc_id, octet_length(encode(text)) AS bytes
      |  FROM documents),
      |fold(source, i, doc_id, bytes, shard, used) AS (
      |  SELECT source, i, doc_id, bytes, 0, bytes FROM p WHERE i = 1
      |  UNION ALL
      |  SELECT n.source, n.i, n.doc_id, n.bytes,
      |    CASE WHEN f.used + n.bytes > 4096 THEN f.shard + 1 ELSE f.shard END,
      |    CASE WHEN f.used + n.bytes > 4096 THEN n.bytes ELSE f.used + n.bytes END
      |  FROM fold f JOIN p n ON n.source = f.source AND n.i = f.i + 1)
      |SELECT source, shard, count(*) AS n_items,
      |  min(used - bytes) AS first_offset,
      |  max(used - bytes) AS last_offset
      |FROM fold GROUP BY 1, 2""".stripMargin

  /** G15: stable keyed pseudonymization — the privacy pass a
    * training pipeline runs before user-keyed data leaves the
    * trust boundary: every user id maps to a salted one-way token,
    * referentially consistent across every table that carries the
    * key (same salt → same token). Map-only column math; the
    * aggregate proves token↔user is 1:1 (no collisions, counts
    * preserved).
    */
  def txPseudonymize(t: Tables): DataFrame = {
    val token = substring(md5(concat(lit("graft-salt:"),
      col("user_id").cast("string"))), 1, 16)
    t.events.select(token.as("pseudo_id"), col("user_id"), col("event_type"))
      .groupBy(col("pseudo_id"))
      .agg(countDistinct(col("user_id")).as("n_source_keys"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
  }

  val txPseudonymizeSql: String =
    """SELECT substring(md5('graft-salt:' || CAST(user_id AS VARCHAR)), 1, 16)
      |    AS pseudo_id,
      |  count(DISTINCT user_id) AS n_source_keys,
      |  count(*) AS n_events,
      |  count(DISTINCT event_type) AS n_types
      |FROM events GROUP BY 1""".stripMargin

  /** E14: keyed time-window dedup — keep the FIRST event per
    * (user, type, hour): the telemetry/at-least-once-ingest
    * compaction rule (batch twin of I6's watermark dedup, but keyed
    * by window rather than exact id). min_by combines map-side, so
    * partitions reduce to ≤1 row per (key, window) before the
    * shuffle — no log-wide window sort.
    */
  def ddWithinWindow(t: Tables): DataFrame =
    t.events
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts_us"),
        expr("unix_micros(ts) div 3600000000").as("hour"))
      .groupBy(col("user_id"), col("event_type"), col("hour"))
      .agg(min_by(struct(col("event_id"), col("ts_us"), col("value")),
        struct(col("ts_us"), col("event_id"))).as("m"),
        count(lit(1)).as("n_collapsed"))
      .select(col("user_id"), col("event_type"), col("hour"),
        col("m.event_id").as("event_id"), col("m.ts_us").as("ts_us"),
        col("m.value").as("value"), col("n_collapsed"))

  val ddWithinWindowSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, event_id, value, epoch_us(ts) AS ts_us,
      |    epoch_us(ts) // 3600000000 AS hour,
      |    row_number() OVER (
      |      PARTITION BY user_id, event_type, epoch_us(ts) // 3600000000
      |      ORDER BY epoch_us(ts), event_id) AS rn,
      |    count(*) OVER (
      |      PARTITION BY user_id, event_type, epoch_us(ts) // 3600000000)
      |      AS n_collapsed
      |  FROM events)
      |SELECT user_id, event_type, hour, event_id, ts_us, value, n_collapsed
      |FROM r WHERE rn = 1""".stripMargin

  /** D36: sketch quantiles — `approx_percentile` (Greenwald-Khanna
    * summaries, merge-able partial state) per group. At 100 TB this
    * replaces D10's exact interpolated percentiles: the sketch is
    * O(1/ε) per partition and combines map-side, where exact
    * percentiles sort every group. Rows-only registry entry (sketch
    * output is engine-specific by nature); the spec bounds its rank
    * error against the exact values.
    */
  def qQuantileApproxRaw(t: Tables): DataFrame =
    t.events.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, array(0.5d, 0.95d, 0.99d), 10000)")
        .as("q"))
      .select(col("event_type"),
        round(col("q")(0), 4).as("p50"),
        round(col("q")(1), 4).as("p95"),
        round(col("q")(2), 4).as("p99"))

  /** The ORACLED registry shape of D36 (r12, closing a declared
    * `no_oracle` row by the dd_decontaminate_bloom r10 pattern):
    * the sketch VALUES are engine-specific, but the sketch's
    * CONTRACT is not — GK with accuracy 10000 places each returned
    * quantile at a rank within ε·n of target (ε = 1e-4), so the
    * declared 1% spec bound holds with two orders of slack. The row
    * computes each emitted quantile's exact rank interval
    * [count(<q̂)+1, count(≤q̂)] in one extra pass and emits, per
    * group, the exact row count plus one gate per quantile stating
    * the interval intersects target ± 1% — quantities DuckDB can
    * restate exactly (count + literal 1s), unlike the values
    * themselves. Integer cross-multiplied comparisons; the tie
    * interval (not the point rank) is what GK actually promises.
    */
  def qQuantileApprox(t: Tables): DataFrame = {
    val e = t.events.select(col("event_type"), col("value"))
    val q = e.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, array(0.5d, 0.95d, 0.99d), 10000)").as("q"))
    def gate(p100: Int, idx: Int) = {
      val cLt = sum(when(col("value") < col("q")(idx), 1L).otherwise(0L))
      val cLe = sum(when(col("value") <= col("q")(idx), 1L).otherwise(0L))
      val n = count(col("value"))
      ((cLt * lit(100L) <= n * lit(p100 + 1L)) &&
        (cLe * lit(100L) >= n * lit(p100 - 1L))).cast("long")
    }
    e.join(broadcast(q), "event_type")
      .groupBy(col("event_type"))
      .agg(
        count(col("value")).as("n_rows"),
        gate(50, 0).as("p50_ok"),
        gate(95, 1).as("p95_ok"),
        gate(99, 2).as("p99_ok"))
  }

  val qQuantileApproxSql: String =
    """SELECT event_type, CAST(count(value) AS BIGINT) AS n_rows,
      |  CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p95_ok,
      |  CAST(1 AS BIGINT) AS p99_ok
      |FROM events GROUP BY event_type""".stripMargin

  /** G16: model inference as column math — a (pretrained) linear
    * quality classifier scored over document features entirely
    * inside codegen: z = w·x + b, score = σ(z). This is the
    * fastText-classifier shape modern corpus pipelines
    * (quality/toxicity filters) run over every document at scale:
    * weights broadcast as literals, the scan stays map-only, no UDF
    * and no model server in the hot path.
    */
  /** The G16 classifier score as a reusable column (4-dp rounded
    * sigmoid; `>= 0.5` is the kept decision) — shared with D121
    * Cohen's kappa, which compares this classifier against the G22
    * rule filter.
    */
  private[queries] def qualityScoreCol(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nTok = size(split(text, " ")).cast("double")
    val len = length(text).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") / len
    val meanWordLen = len / nTok
    // Weights a trained classifier would supply; fixed here.
    val z = lit(-0.37) + lit(0.291) * log(lit(1.0) + nTok) +
      lit(-4.13) * punct + lit(-0.177) * meanWordLen
    round(lit(1.0) / (lit(1.0) + exp(-z)), 4)
  }

  def txQualityClassifier(t: Tables): DataFrame =
    t.documents.select(col("doc_id"), qualityScoreCol(col("text")).as("score"))
      .withColumn("kept", col("score") >= 0.5)

  /** F6: product-quantization codes ([[graft.operators.Similarity.pqCodes]])
    * — vector compression for billion-scale ANN: 64 floats → 4
    * codebook ids (+ reconstruction error). Map-only encode scan;
    * see the operator for the scale argument.
    */
  def simPq(t: Tables): DataFrame =
    graft.operators.Similarity.pqCodes(
      t.embeddings, "vec_id", "embedding", "label", m = 4)

  val simPqSql: String =
    """WITH percomp AS (
      |  SELECT label, d, avg(CAST(embedding[d] AS DOUBLE)) AS c
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)
      |  GROUP BY label, d),
      |cents AS (
      |  SELECT label AS clabel, list(round(c, 4) ORDER BY d) AS cvec
      |  FROM percomp GROUP BY label),
      |dists AS (
      |  SELECT e.vec_id, js.j, c.clabel,
      |    list_sum(list_transform(range(1, 17),
      |      i -> (CAST(e.embedding[js.j*16 + i] AS DOUBLE) - c.cvec[js.j*16 + i])
      |         * (CAST(e.embedding[js.j*16 + i] AS DOUBLE) - c.cvec[js.j*16 + i])))
      |      AS d2
      |  FROM embeddings e, (SELECT unnest(range(0, 4)) AS j) js, cents c),
      |best AS (
      |  SELECT vec_id, j, clabel, d2,
      |    row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, clabel) AS rn
      |  FROM dists)
      |SELECT vec_id,
      |  max(CASE WHEN j = 0 THEN clabel END) AS c0,
      |  max(CASE WHEN j = 1 THEN clabel END) AS c1,
      |  max(CASE WHEN j = 2 THEN clabel END) AS c2,
      |  max(CASE WHEN j = 3 THEN clabel END) AS c3,
      |  round(sqrt(sum(d2)), 4) + 0 AS recon_err
      |FROM best WHERE rn = 1 GROUP BY vec_id""".stripMargin

  /** D38: time-decay weighted engagement — per user,
    * Σ value·e^(−λ·age) with the reference instant fixed to the day
    * after the dataset ends (deterministic). The decay weight is
    * map-side column math; one group-key shuffle. The recency-
    * weighted score every ranking/feature pipeline computes.
    */
  def qDecayWeighted(t: Tables): DataFrame = {
    val nowUs = 1706745600000000L // 2024-02-01T00:00:00Z
    val lambdaPerDay = 0.1
    val ageDays = (lit(nowUs) - unix_micros(col("ts"))).cast("double") / 86400000000.0
    t.events
      .groupBy(col("user_id"))
      .agg(
        round(sum(col("value") * exp(lit(-lambdaPerDay) * ageDays)), 4)
          .as("decayed_value"),
        count(lit(1)).as("n_events"))
  }

  val qDecayWeightedSql: String =
    """SELECT user_id,
      |  round(sum(value * exp(-0.1 *
      |    ((1706745600000000 - epoch_us(ts)) / 86400000000.0))), 4) + 0
      |    AS decayed_value,
      |  count(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin

  /** C10: web-mercator (slippy-map) tile keys — the tiling
    * partition key behind every map-publishing pipeline: lon/lat →
    * (z, x, y) at zoom 6, with per-tile feature counts. Pure
    * column math (map-only before the tile rollup); at scale the
    * tile id doubles as the output partition key so one tile =
    * one file. Coordinates derive from the event columns scaled
    * into lon/lat range.
    */
  def geoTileKey(t: Tables): DataFrame = {
    val z = 6
    val n = lit((1 << z).toDouble)
    val lon = pmod(col("value"), lit(360.0)) - 180.0
    val lat = get_json_object(col("props"), "$.k").cast("double") * 0.8 - 40.0
    val latRad = lat * math.Pi / 180.0
    val tx = floor((lon + 180.0) / 360.0 * n).cast("long")
    val ty = floor((lit(1.0) -
      log(tan(latRad) + lit(1.0) / cos(latRad)) / math.Pi) / 2.0 * n).cast("long")
    t.events
      .select(lit(z).as("zoom"), tx.as("tile_x"), ty.as("tile_y"))
      .groupBy(col("zoom"), col("tile_x"), col("tile_y"))
      .agg(count(lit(1)).as("n_features"))
  }

  val geoTileKeySql: String =
    """WITH p AS (
      |  SELECT ((value % 360.0) + 360.0) % 360.0 - 180.0 AS lon,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) * 0.8 - 40.0 AS lat
      |  FROM events)
      |SELECT 6 AS zoom,
      |  CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS tile_x,
      |  CAST(floor((1.0 - ln(tan(lat * pi() / 180.0)
      |    + 1.0 / cos(lat * pi() / 180.0)) / pi()) / 2.0 * 64.0) AS BIGINT)
      |    AS tile_y,
      |  count(*) AS n_features
      |FROM p GROUP BY 2, 3""".stripMargin

  /** C11: polyline simplification (radial-distance) — per user
    * trajectory, keep a point only if it lies farther than eps from
    * the LAST KEPT point; first point always survives. The
    * map-reduce shape is one user-key shuffle + a per-row fold over
    * the sorted point list (trajectory-bounded, like D29's paths);
    * the sequential keep-rule can't be a window function because
    * each decision depends on the previous KEPT point, not the
    * previous row — exactly what the fold (and the oracle's
    * recursive CTE) expresses.
    */
  def geoSimplify(t: Tables): DataFrame = {
    val eps2 = 400.0 // eps = 20 in coordinate units
    val emptyKept = array().cast("array<struct<x:double,y:double>>")
    val folded = t.events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("value").as("x"),
          get_json_object(col("props"), "$.k").cast("double").as("y")).as("p"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("p"))).as("seq"))
      .select(col("user_id"), size(col("seq")).cast("long").as("n_points"),
        aggregate(col("seq"), emptyKept, (acc, e) => {
          val last = element_at(acc, -1)
          val d2 = (e.getField("x") - last.getField("x")) * (e.getField("x") - last.getField("x")) +
            (e.getField("y") - last.getField("y")) * (e.getField("y") - last.getField("y"))
          when(size(acc) === 0 || d2 > eps2,
            concat(acc, array(struct(e.getField("x").as("x"), e.getField("y").as("y")))))
            .otherwise(acc)
        }).as("kept"))
    folded.select(col("user_id"), col("n_points"),
      size(col("kept")).cast("long").as("n_kept"),
      round(aggregate(col("kept"),
        struct(lit(null).cast("double").as("px"), lit(null).cast("double").as("py"),
          lit(0.0).as("len")),
        (acc, p) => struct(p.getField("x").as("px"), p.getField("y").as("py"),
          (acc.getField("len") + coalesce(sqrt(
            (p.getField("x") - acc.getField("px")) * (p.getField("x") - acc.getField("px")) +
              (p.getField("y") - acc.getField("py")) * (p.getField("y") - acc.getField("py"))),
            lit(0.0))).as("len")),
        acc => acc.getField("len")), 4).as("simplified_len"))
  }

  val geoSimplifySql: String =
    """WITH RECURSIVE pts AS (
      |  SELECT user_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
      |    value AS x,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |  FROM events),
      |keep(user_id, i, x, y) AS (
      |  SELECT user_id, i, x, y FROM pts WHERE i = 1
      |  UNION ALL
      |  SELECT n.user_id, n.i, n.x, n.y
      |  FROM keep k, LATERAL (
      |    SELECT p.user_id, p.i, p.x, p.y FROM pts p
      |    WHERE p.user_id = k.user_id AND p.i > k.i
      |      AND (p.x - k.x) * (p.x - k.x) + (p.y - k.y) * (p.y - k.y) > 400.0
      |    ORDER BY p.i LIMIT 1) n),
      |seg AS (
      |  SELECT user_id, x, y,
      |    lag(x) OVER w AS px, lag(y) OVER w AS py
      |  FROM keep
      |  WINDOW w AS (PARTITION BY user_id ORDER BY i)),
      |np AS (SELECT user_id, count(*) AS n_points FROM pts GROUP BY 1)
      |SELECT s.user_id, np.n_points, count(*) AS n_kept,
      |  round(sum(CASE WHEN px IS NULL THEN 0.0
      |    ELSE sqrt((x - px) * (x - px) + (y - py) * (y - py)) END), 4) + 0
      |    AS simplified_len
      |FROM seg s JOIN np USING (user_id)
      |GROUP BY s.user_id, np.n_points""".stripMargin

  /** D37: incremental materialized-view merge — the aggregate-state
    * maintenance pattern: stored per-group partials (count/sum/min/
    * max over the published half) merge with the delta's partials
    * into the refreshed view WITHOUT rescanning the snapshot. All
    * three plans shuffle only group-key-sized rows; the oracle is
    * the DIRECT aggregate over everything — the merge must be
    * indistinguishable from a full recompute.
    */
  def qMvMerge(t: Tables): DataFrame = {
    val cutUs = 1705276800000000L // 2024-01-15T00:00:00Z
    def partials(df: DataFrame) = df
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
    val e = t.events
    val stored = partials(e.filter(unix_micros(col("ts")) < cutUs))
      .withColumnsRenamed(Map("n" -> "n1", "s" -> "s1", "mn" -> "mn1", "mx" -> "mx1"))
    val delta = partials(e.filter(unix_micros(col("ts")) >= cutUs))
      .withColumnsRenamed(Map("n" -> "n2", "s" -> "s2", "mn" -> "mn2", "mx" -> "mx2"))
    stored.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_events"),
        round(coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0)), 4)
          .as("total_value"),
        least(col("mn1"), col("mn2")).as("min_value"),
        greatest(col("mx1"), col("mx2")).as("max_value"))
  }

  /** The merged view must equal a full recompute. */
  val qMvMergeSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 4) + 0 AS total_value,
      |  min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY event_type""".stripMargin

  val txQualityClassifierSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
      |    CAST(length(text) AS DOUBLE) AS chars,
      |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      |      / length(text) AS punct
      |  FROM documents)
      |SELECT doc_id,
      |  round(1.0 / (1.0 + exp(-(-0.37 + 0.291 * ln(1.0 + n_tok)
      |    - 4.13 * punct - 0.177 * (chars / n_tok)))), 4) + 0 AS score,
      |  round(1.0 / (1.0 + exp(-(-0.37 + 0.291 * ln(1.0 + n_tok)
      |    - 4.13 * punct - 0.177 * (chars / n_tok)))), 4) >= 0.5 AS kept
      |FROM f""".stripMargin
}
