package graft.queries

import graft.Tables
import graft.functions.RollingHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 16: distributional-audit statistics
  * (two-sample KS, Mann-Whitney U, Herfindahl concentration,
  * Kaplan-Meier hazard table) and winnowing document fingerprints.
  */
object Pipeline19 {

  /** D66: two-sample Kolmogorov-Smirnov distance of each event
    * type's `value` distribution against the whole-corpus mix — the
    * nonparametric drift gate beside D39's binned PSI and G32's JSD
    * (KS needs no bin choice; it reads the whole ECDF).
    *
    * Scale shape: the corpus collapses ONCE to the (type, v) count
    * table (values quantized to exact ×10⁴ longs — the table is
    * VALUE-bounded, ≤ range·10⁴ rows per type at any corpus scale).
    * The type×grid zero-fill makes per-type cumulative counts exact
    * at every pooled support point, and the corpus ECDF falls out as
    * Σ_type cum_t(v) — event types PARTITION the corpus, so no
    * global (unpartitioned) window is ever needed; the only windows
    * run per type over the value-bounded grid. The sup statistic is
    * computed on cross-multiplied DECIMAL(38) integers
    * |cum_t·N − cum_all·N_t| (no float division before the single
    * ×10⁶ fixed-point emission per type), so the result is exact
    * under any partitioning and bit-identical to the oracle.
    */
  def qKsTest(t: Tables): DataFrame = {
    // One corpus-sized exchange; checkpointed for its three bounded
    // consumers (grid, per-type totals, the grid-fill join).
    val comp = t.events
      .select(col("event_type"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val grid  = comp.select(col("v")).distinct()
    val types = comp.groupBy(col("event_type")).agg(sum(col("cnt")).as("n_type"))
    val nAll  = types.agg(sum(col("n_type")).as("n_all"))
    val wcum = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid
      .crossJoin(broadcast(types))
      .join(comp, Seq("event_type", "v"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("cum_t", sum(col("cnt")).over(wcum))
    // Event types partition the corpus, so the pooled ECDF count at
    // v is the type-sum of the grid-filled per-type cumulatives —
    // no global cumulative window over the value grid.
    val all = cum.groupBy(col("v")).agg(sum(col("cum_t")).as("cum_all"))
    cum.join(all, Seq("v"))
      .crossJoin(broadcast(nAll))
      .groupBy(col("event_type"))
      .agg(
        max(col("n_type")).as("n_type"),
        max(col("n_all")).as("n_all"),
        max(abs(col("cum_t").cast("decimal(38,0)") * col("n_all")
          - col("cum_all").cast("decimal(38,0)") * col("n_type")))
          .as("dmax"))
      .select(col("event_type"), col("n_type"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * dmax)
                div (CAST(n_type AS DECIMAL(38,0)) * n_all) AS BIGINT)""")
          .as("ks_fx"))
  }

  val qKsTestSql: String =
    """WITH comp AS (
      |  SELECT event_type, CAST(round(value * 10000) AS BIGINT) AS v,
      |         count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT v FROM comp),
      |types AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_type
      |  FROM comp GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_type) AS BIGINT) AS n_all FROM types),
      |filled AS (
      |  SELECT t.event_type, t.n_type, g.v, coalesce(c.cnt, 0) AS cnt
      |  FROM grid g CROSS JOIN types t
      |  LEFT JOIN comp c ON c.event_type = t.event_type AND c.v = g.v),
      |cum AS (
      |  SELECT event_type, n_type, v,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |                   ROWS UNBOUNDED PRECEDING) AS cum_t
      |  FROM filled),
      |alls AS (SELECT v, CAST(sum(cum_t) AS BIGINT) AS cum_all FROM cum GROUP BY 1),
      |agg AS (
      |  SELECT c.event_type, max(c.n_type) AS n_type, max(t.n_all) AS n_all,
      |    max(abs(CAST(c.cum_t AS HUGEINT) * t.n_all
      |            - CAST(a.cum_all AS HUGEINT) * c.n_type)) AS dmax
      |  FROM cum c JOIN alls a USING (v) CROSS JOIN tot t
      |  GROUP BY 1)
      |SELECT event_type, n_type,
      |  CAST((1000000::HUGEINT * dmax)
      |       // (CAST(n_type AS HUGEINT) * n_all) AS BIGINT) AS ks_fx
      |FROM agg""".stripMargin

  /** D67: Mann-Whitney U (rank-sum) test between two customer
    * segments' order values — the nonparametric A/B companion to
    * D52's proportion lift (D52 compares rates; this compares whole
    * value distributions without a normality assumption).
    *
    * Scale shape: the pooled sample collapses to the value-bounded
    * (cents → count₁, count₂) table in one map-side-combined
    * exchange; the global "rank before v" prefix is the N9 TWO-PHASE
    * prefix sum — in-bucket cumulative windows partitioned by the
    * $1000 price bucket, bucket offsets rolled on the ≤500-row
    * bucket table and broadcast back — so no single-task global
    * window ever sees the value table. Tie handling is exact: the
    * tie-averaged rank ×2 (= 2·cum_before + tot + 1) stays integral,
    * and the rank-sum accumulates in DECIMAL(38), so U is exact at
    * any corpus scale.
    */
  def qMannWhitney(t: Tables): DataFrame = {
    val base = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select((col("c_mktsegment") === "BUILDING").as("g1"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val comp = base.groupBy(col("cents"))
      .agg(
        sum(when(col("g1"), 1L).otherwise(0L)).as("n1v"),
        sum(when(col("g1"), 0L).otherwise(1L)).as("n2v"))
      .withColumn("tot", col("n1v") + col("n2v"))
      .withColumn("bkt", expr("cents div 100000"))
      .localCheckpoint(true)
    val intraW = Window.partitionBy(col("bkt")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val intra = comp.withColumn("intra",
      coalesce(sum(col("tot")).over(intraW), lit(0L)))
    // Bucket offsets: plain aggregate (map-side combine) to the
    // ≤ max_price/1000-row bucket table, rolled with one bounded
    // window and broadcast back (the N9 pattern).
    val offW = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = comp.groupBy(col("bkt")).agg(sum(col("tot")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(offW), lit(0L)))
      .select(col("bkt"), col("off"))
    intra.join(broadcast(offsets), Seq("bkt"))
      .withColumn("cumbef", col("off") + col("intra"))
      .agg(
        sum(col("n1v")).as("n1"),
        sum(col("n2v")).as("n2"),
        sum(col("n1v").cast("decimal(38,0)")
          * (lit(2) * col("cumbef") + col("tot") + 1)).as("r1x2"))
      .select(col("n1"), col("n2"),
        expr("CAST(r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT)")
          .as("u1_x2"),
        expr("""CAST(2 * CAST(n1 AS DECIMAL(38,0)) * n2
                - (r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) AS BIGINT)""")
          .as("u2_x2"))
  }

  /** The oracle states the semantics — ONE plain running sum over
    * the value-compacted table; the two-phase plan is numerically
    * identical because integer addition is associative.
    */
  val qMannWhitneySql: String =
    """WITH b AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         c_mktsegment = 'BUILDING' AS g1
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |c AS (
      |  SELECT cents,
      |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
      |    CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS n2v
      |  FROM b GROUP BY 1),
      |r AS (
      |  SELECT n1v, n2v, n1v + n2v AS tot,
      |    coalesce(sum(n1v + n2v) OVER (ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumbef
      |  FROM c),
      |a AS (
      |  SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(n2v) AS BIGINT) AS n2,
      |    sum(CAST(n1v AS HUGEINT) * (2 * cumbef + tot + 1)) AS r1x2
      |  FROM r)
      |SELECT n1, n2,
      |  CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
      |  CAST(2 * CAST(n1 AS HUGEINT) * n2
      |       - (r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)) AS BIGINT) AS u2_x2
      |FROM a""".stripMargin

  /** D68: Herfindahl-Hirschman concentration of order spend per
    * nation — Σ shareᵢ² over each nation's customers ×10⁶, the
    * market-concentration release gate beside D47's Gini (HHI reads
    * concentration of the TOP of the distribution; Gini reads
    * overall inequality).
    *
    * Scale shape: one corpus exchange to (nation, customer) exact
    * integer cents, then a map-side-combined per-nation rollup of
    * Σc² and Σc in DECIMAL(38) (cents² sums overflow 2⁶³ at sf≳1);
    * the ×10⁶ fixed-point division happens once per nation on exact
    * integers, so results hash-match the oracle at any sf.
    */
  def qHhi(t: Tables): DataFrame = {
    val perCust = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), col("c_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    perCust
      .groupBy(col("c_nationkey").as("n_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("s2"),
        sum(col("cents").cast("decimal(38,0)")).as("s1"))
      .select(col("n_nationkey"), col("n_customers"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * s2)
                div (s1 * s1) AS BIGINT)""").as("hhi_fx"))
  }

  val qHhiSql: String =
    """WITH pc AS (
      |  SELECT c_nationkey, c_custkey,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT c_nationkey AS n_nationkey, count(*) AS n_customers,
      |    sum(CAST(cents AS HUGEINT) * cents) AS s2,
      |    sum(CAST(cents AS HUGEINT)) AS s1
      |  FROM pc GROUP BY 1)
      |SELECT n_nationkey, n_customers,
      |  CAST((1000000::HUGEINT * s2) // (s1 * s1) AS BIGINT) AS hhi_fx
      |FROM a""".stripMargin

  /** D69: Kaplan-Meier hazard table over user activity lifetimes —
    * per calendar day: users at risk, uncensored "deaths" (users
    * whose LAST event lands that day; users still active on the
    * corpus's final day are censored), and the discrete hazard
    * d/n ×10⁶. The survival-analysis primitive behind churn and
    * retention-curve estimation (D28 buckets fixed horizons; this
    * estimates the curve itself, censoring-aware).
    *
    * Scale shape: the corpus collapses to per-user (first_day,
    * last_day) spans in ONE map-side-combined exchange; at-risk
    * counts come from ±1 interval deltas cumulated over the
    * CALENDAR-bounded day table (the D60 interval idiom), so no
    * per-event data ever reaches a window. The one global window
    * runs on ≤ 2·calendar-days rows at any corpus scale
    * (PlanGuard-allowlisted). Hazard is an exact ×10⁶ integer
    * floor-division per day.
    */
  def qKaplanMeier(t: Tables): DataFrame = {
    // Checkpointed: consumed by the max-day aggregate, both delta
    // branches, and the deaths rollup.
    val spans = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .localCheckpoint(true)
    val maxd = spans.agg(max(col("last_day")).as("max_day"))
    // The zero-delta branch matters: a user's last_day need not be
    // any other user's first_day or last_day+1, and the risk table
    // only has delta days — without it, that user's death row would
    // vanish in the left join below.
    val deltas = spans.select(col("first_day").as("day"), lit(1L).as("dd"))
      .unionAll(spans.select(date_add(col("last_day"), 1).as("day"),
        lit(-1L).as("dd")))
      .unionAll(spans.select(col("last_day").as("day"), lit(0L).as("dd")))
      .groupBy(col("day")).agg(sum(col("dd")).as("delta"))
    val wr = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = deltas.withColumn("n_risk", sum(col("delta")).over(wr))
    val deaths = spans
      .crossJoin(broadcast(maxd))
      .filter(col("last_day") < col("max_day"))
      .groupBy(col("last_day").as("day"))
      .agg(count(lit(1)).as("n_events"))
    risk.join(deaths, Seq("day"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .filter(col("n_risk") > 0)
      .select(col("day"), col("n_risk"), col("n_events"),
        expr("CAST((1000000 * n_events) div n_risk AS BIGINT)").as("hazard_fx"))
  }

  val qKaplanMeierSql: String =
    """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |spans AS (
      |  SELECT user_id, min(day) AS first_day, max(day) AS last_day
      |  FROM d GROUP BY 1),
      |mx AS (SELECT max(last_day) AS max_day FROM spans),
      |deltas AS (
      |  SELECT day, CAST(sum(dd) AS BIGINT) AS delta FROM (
      |    SELECT first_day AS day, 1 AS dd FROM spans
      |    UNION ALL
      |    SELECT last_day + 1 AS day, -1 AS dd FROM spans
      |    UNION ALL
      |    SELECT last_day AS day, 0 AS dd FROM spans) u
      |  GROUP BY 1),
      |risk AS (
      |  SELECT day,
      |    sum(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS n_risk
      |  FROM deltas),
      |deaths AS (
      |  SELECT last_day AS day, count(*) AS n_events
      |  FROM spans CROSS JOIN mx WHERE last_day < max_day GROUP BY 1)
      |SELECT r.day, CAST(r.n_risk AS BIGINT) AS n_risk,
      |  CAST(coalesce(dh.n_events, 0) AS BIGINT) AS n_events,
      |  CAST((1000000 * coalesce(dh.n_events, 0)) // r.n_risk AS BIGINT)
      |    AS hazard_fx
      |FROM risk r LEFT JOIN deaths dh ON r.day = dh.day
      |WHERE r.n_risk > 0""".stripMargin

  /** G33: winnowing document fingerprints (the MOSS local
    * fingerprinting scheme): hash every k=3-token shingle, slide a
    * w=4 window over the hash sequence, keep the window minimum
    * (rightmost on ties — the standard winnowing tie rule), dedupe.
    * Guarantees every ≥ k+w−1-token match between documents shares a
    * fingerprint — the LOCALITY guarantee G4's single whole-doc
    * fingerprint and E2's MinHash (set-similarity, no positions)
    * don't give.
    *
    * Scale shape: winnowing is embarrassingly parallel per document,
    * so the registered plan is ONE native codegen expression
    * ([[graft.functions.WinnowStats]]) on the scan — hashes, sliding
    * min, tie rule, and dedupe all inside whole-stage codegen, ZERO
    * exchanges. The composed DataFrame formulation below
    * ([[txWinnowingComposed]]) states the same semantics through
    * posexplode + per-doc window + distinct — it pays an interpreted
    * HOF per shingle and a corpus-sized window re-key (measured 7.1 s
    * vs 0.5 s at sf0.1) and is kept as the spec's cross-check twin.
    */
  def txWinnowing(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        graft.functions.WinnowStats(col("text"), 3, 4).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), col("s.n_fp").as("n_fp"),
        col("s.min_fp").as("min_fp"), col("s.max_fp").as("max_fp"))

  /** The composed-operator twin of [[txWinnowing]] — identical
    * result by construction (spec-pinned); the rightmost-min tie
    * rule is encoded arithmetically (key = h·2²¹ + (2²¹−1−pos)) so a
    * plain `min` window implements it (doc positions bounded < 2²¹
    * by the chunking contract upstream G10 enforces at ingest).
    */
  def txWinnowingComposed(t: Tables): DataFrame = {
    val stride = 1L << 21
    val grams = t.documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 3,
          transform(sequence(lit(1), size(col("t")) - 2),
            i => RollingHash(concat_ws(" ",
              element_at(col("t"), i),
              element_at(col("t"), i + 1),
              element_at(col("t"), i + 2)))))
          .otherwise(typedLit(Seq.empty[Long])).as("hs"))
    val pos = grams
      .select(col("doc_id"), posexplode(col("hs")))
      .toDF("doc_id", "pos", "h")
      .withColumn("key", col("h") * stride + (lit(stride - 1) - col("pos")))
    val wsel = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-3, 0)
    pos
      .withColumn("sel", min(col("key")).over(wsel))
      .filter(col("pos") >= 3)
      .select(col("doc_id"), col("sel")).distinct()
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_fp"),
        min(expr(s"sel div ${stride}L")).as("min_fp"),
        max(expr(s"sel div ${stride}L")).as("max_fp"))
  }

  val txWinnowingSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i,
      |    unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> list_reduce(
      |             list_prepend(CAST(0 AS BIGINT),
      |               list_transform(
      |                 regexp_split_to_array(
      |                   concat_ws(' ', t[i], t[i+1], t[i+2]), ''),
      |                 c -> CAST(unicode(c) AS BIGINT))),
      |             (a, b) -> (a * 31 + b) % 1000000007))) AS h
      |  FROM t),
      |k AS (
      |  SELECT doc_id, i - 1 AS pos, h,
      |    h * 2097152 + (2097151 - (i - 1)) AS key
      |  FROM g),
      |w AS (
      |  SELECT doc_id, pos,
      |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
      |  FROM k),
      |s AS (SELECT DISTINCT doc_id, sel FROM w WHERE pos >= 3)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
      |  CAST(min(sel // 2097152) AS BIGINT) AS min_fp,
      |  CAST(max(sel // 2097152) AS BIGINT) AS max_fp
      |FROM s GROUP BY 1""".stripMargin
}
