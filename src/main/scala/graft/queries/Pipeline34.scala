package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 29: one-way ANOVA, sequential-pair
  * support mining, Theil–Sen robust trend, Poisson-bootstrap
  * confidence intervals.
  */
object Pipeline34 {

  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** D87: one-way ANOVA F-test of order value across the five order
    * priorities — does priority explain any of the price variance?
    * The k-group generalization of D72 (Welch, two groups): same
    * exact-moment discipline, with the groups PIVOTED into one row
    * by conditional aggregation so the closed-form F expression has
    * a fixed parse tree — a k-row double re-aggregation would leave
    * the summation order (and the last-ulp result) engine-defined.
    *
    * Scale shape: ONE map-side-combined aggregate over the fact scan
    * produces 15 exact moments (n, Σc BIGINT, Σc² DECIMAL(38) per
    * priority — cents² sums overflow 2⁶³ at sf≳1); F and η² are one
    * closed-form double expression over those integers, identical
    * text in the oracle, rounded at 4 dp. Zero shuffled rows beyond
    * the single moment row.
    */
  def qAnova(t: Tables): DataFrame = {
    val base = t.orders.select(col("o_orderpriority").as("pr"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
    val aggs = priorities.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        sum(when(col("pr") === p, 1L).otherwise(0L)).as(s"n$i"),
        sum(when(col("pr") === p, col("c")).otherwise(0L)).as(s"s$i"),
        sum(when(col("pr") === p, col("c").cast("decimal(38,0)") * col("c"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"q$i"))
    }
    val m = base.agg(aggs.head, aggs.tail: _*)
    // Fixed-order Σ sᵢ²/nᵢ and Σ qᵢ: a literal left-to-right chain,
    // never an engine-ordered re-aggregation.
    val ssbTerms = (0 until 5)
      .map(i => s"(CAST(s$i AS DOUBLE) / n$i) * s$i").mkString(" + ")
    val nTot = (0 until 5).map(i => s"n$i").mkString(" + ")
    val sTot = (0 until 5).map(i => s"s$i").mkString(" + ")
    val qTot = (0 until 5).map(i => s"CAST(q$i AS DOUBLE)").mkString(" + ")
    m.select(
      expr(s"CAST($nTot AS BIGINT)").as("n_total"),
      expr(s"""round(
        ((($ssbTerms) - (CAST($sTot AS DOUBLE) / ($nTot)) * ($sTot)) / 4)
        / ((($qTot) - ($ssbTerms)) / (($nTot) - 5)), 4)""").as("f_stat"),
      expr(s"""round(
        (($ssbTerms) - (CAST($sTot AS DOUBLE) / ($nTot)) * ($sTot))
        / (($qTot) - (CAST($sTot AS DOUBLE) / ($nTot)) * ($sTot)), 4)""")
        .as("eta_sq"))
  }

  val qAnovaSql: String = {
    val ssbTerms = (0 until 5)
      .map(i => s"(CAST(s$i AS DOUBLE) / n$i) * s$i").mkString(" + ")
    val nTot = (0 until 5).map(i => s"n$i").mkString(" + ")
    val sTot = (0 until 5).map(i => s"s$i").mkString(" + ")
    val qTot = (0 until 5).map(i => s"CAST(q$i AS DOUBLE)").mkString(" + ")
    val moments = priorities.zipWithIndex.map { case (p, i) =>
      s"""    CAST(sum(CASE WHEN pr = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS n$i,
         |    CAST(sum(CASE WHEN pr = '$p' THEN c ELSE 0 END) AS BIGINT) AS s$i,
         |    sum(CASE WHEN pr = '$p' THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q$i""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT o_orderpriority AS pr,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
       |  FROM orders),
       |m AS (
       |  SELECT
       |$moments
       |  FROM b)
       |SELECT CAST($nTot AS BIGINT) AS n_total,
       |  round(
       |    ((($ssbTerms) - (CAST($sTot AS DOUBLE) / ($nTot)) * ($sTot)) / 4)
       |    / ((($qTot) - ($ssbTerms)) / (($nTot) - 5)), 4) + 0 AS f_stat,
       |  round(
       |    (($ssbTerms) - (CAST($sTot AS DOUBLE) / ($nTot)) * ($sTot))
       |    / (($qTot) - (CAST($sTot AS DOUBLE) / ($nTot)) * ($sTot)), 4) + 0
       |    AS eta_sq
       |FROM m""".stripMargin
  }

  /** D88: sequential-pattern support — for every ORDERED pair of
    * event types (a, b), the number (and ppm fraction) of users with
    * some a-occurrence strictly before some b-occurrence. The
    * non-adjacent companion to D75/D86 (which count only immediate
    * transitions): "ever a, later b" is the co-occurrence signal
    * funnel and association mining start from.
    *
    * The whole computation rides one identity: ∃ tₐ < t_b in a
    * user's stream  ⟺  first(a) < last(b) under a total order — so
    * the event log collapses to per-(user, type) FIRST/LAST keys
    * (one map-side-combined agg), pairs are generated map-side from
    * each user's type-vocabulary-bounded list (≤ types² ≈ 25 rows
    * per user, never an event-level self-join), and the total order
    * is the (ts, event_id) struct, exact under ts ties. At 100 TB:
    * shuffled rows are (user, type) compacts, pair fan-out stays
    * vocabulary-bounded, the final agg is types²-sized.
    */
  def qSeqPairs(t: Tables): DataFrame = {
    val ut = t.events
      .select(col("user_id"), col("event_type"),
        struct(col("ts"), col("event_id")).as("k"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("k")).as("fk"), max(col("k")).as("lk"))
    val perUser = ut.groupBy(col("user_id"))
      .agg(collect_list(struct(col("event_type"), col("fk"), col("lk")))
        .as("tl"))
    val totals = perUser.agg(count(lit(1)).as("u"))
    perUser
      .select(col("user_id"), explode(col("tl")).as("a"), col("tl"))
      .select(col("user_id"), col("a"), explode(col("tl")).as("b"))
      .filter(col("a.fk") < col("b.lk"))
      .groupBy(col("a.event_type").as("src_type"),
        col("b.event_type").as("dst_type"))
      .agg(count(lit(1)).as("support_users"))
      .crossJoin(broadcast(totals))
      .select(col("src_type"), col("dst_type"), col("support_users"),
        expr("(support_users * 1000000) div u").as("support_ppm"))
  }

  val qSeqPairsSql: String =
    """WITH ut AS (
      |  SELECT user_id, event_type,
      |    min((ts, event_id)) AS fk, max((ts, event_id)) AS lk
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT count(DISTINCT user_id) AS u FROM events)
      |SELECT a.event_type AS src_type, b.event_type AS dst_type,
      |  count(*) AS support_users,
      |  CAST((count(*) * 1000000) // any_value(tot.u) AS BIGINT) AS support_ppm
      |FROM ut a JOIN ut b ON b.user_id = a.user_id AND a.fk < b.lk
      |CROSS JOIN tot
      |GROUP BY 1, 2""".stripMargin

  /** D89: Theil–Sen robust trend — per event type, the median of all
    * pairwise day-over-day slopes of the daily event count: the
    * estimator that shrugs off the outlier days that wreck D56's
    * least-squares slope (breakdown point 29% vs 0%).
    *
    * Scale shape: the corpus collapses to the (type, day) count grid
    * FIRST (one map-side-combined agg — the only corpus-sized
    * exchange), and the O(days²) pair join runs on that bounded grid
    * (30 days → 435 pairs/type), never on events. Each slope is a
    * single IEEE division of exact integers — bit-identical in any
    * engine — and the median is an order statistic (value at the
    * lower-median rank of the value-sorted pairs), so ties cannot
    * make the answer partition-dependent.
    */
  def qTheilSen(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("dayn"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val a = daily.select(col("event_type"), col("dayn").as("d1"), col("cnt").as("c1"))
    val b = daily.select(col("event_type").as("et2"), col("dayn").as("d2"), col("cnt").as("c2"))
    val pairs = a.join(b, col("event_type") === col("et2") && col("d1") < col("d2"))
      .select(col("event_type"),
        expr("CAST(c2 - c1 AS DOUBLE) / (d2 - d1)").as("slope"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"))
    val wAll = Window.partitionBy(col("event_type"))
    val days = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(wAll))
      .filter(expr("rn = (n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"), col("slope").as("sen_slope"))
      .join(days, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        expr("round(sen_slope, 4)").as("sen_slope"))
  }

  val qTheilSenSql: String =
    """WITH daily AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE))
      |      AS dayn,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type,
      |    CAST(b.cnt - a.cnt AS DOUBLE) / (b.dayn - a.dayn) AS slope
      |  FROM daily a JOIN daily b
      |    ON b.event_type = a.event_type AND a.dayn < b.dayn),
      |r AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n_pairs
      |  FROM p),
      |d AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
      |SELECT r.event_type, d.n_days, r.n_pairs,
      |  round(r.slope, 4) + 0 AS sen_slope
      |FROM r JOIN d ON d.event_type = r.event_type
      |WHERE r.rn = (r.n_pairs + 1) // 2""".stripMargin

  /** Poisson(1) CDF scaled to 2²⁰, exact integer thresholds — the
    * weight of a row in replicate r is the number of thresholds its
    * mixed uniform clears (mean 1, matching the classic n-out-of-n
    * resample in expectation).
    */
  private val poissonThresholds =
    Seq(385749L, 771499L, 964373L, 1028665L, 1044738L, 1047952L, 1048488L, 1048565L)

  /** D90: Poisson-bootstrap confidence interval for the mean event
    * value per type — the distribution-free uncertainty band D52/D72
    * assume away. Classic bootstrap resamples n rows n times, which
    * is unshardable; the Poisson(1) approximation gives every row an
    * INDEPENDENT replicate weight, so the whole thing is one pass:
    * each row emits its 32 replicate weights map-side (deterministic
    * closed-form LCG mix of (event_id, r) — any engine reproduces
    * the "randomness"), partial aggregation combines (Σwv, Σw) per
    * (type, replicate) before the only exchange, and the band is an
    * order statistic over each type's 32 replicate means (ranks
    * 2/16/31 of the value-sorted replicates ≈ 94% band + median).
    * At 100 TB the shuffle carries types×32 rows; value sums are
    * exact micros BIGINT (DECIMAL(38) is the documented next step
    * past ~10¹⁸ weighted micros per partition-group).
    */
  def qBootstrapCi(t: Tables): DataFrame = {
    val wCase = poissonThresholds.zipWithIndex
      .map { case (th, i) => s"WHEN u < $th THEN $i" }
      .mkString("CASE ", " ", " ELSE 8 END")
    val reps = t.events
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v"))
      .select(col("event_type"), col("event_id"), col("v"),
        explode(expr("sequence(0, 31)")).as("r"))
      .withColumn("u", expr(
        """((((event_id % 1000000007) * 1048573 + r) % 1000000007)
          | * 2654435761 + 1013904223) % 1000000007 % 1048576""".stripMargin))
      .withColumn("w", expr(wCase))
    val means = reps.groupBy(col("event_type"), col("r"))
      .agg(sum(expr("w * v")).as("num"), sum(col("w")).as("den"))
      .withColumn("mean_r", expr("CAST(num AS DOUBLE) / den / 1000000.0"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("mean_r"), col("r"))
    means.withColumn("rn", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") === 2, col("mean_r"))).as("lo"),
        max(when(col("rn") === 16, col("mean_r"))).as("med"),
        max(when(col("rn") === 31, col("mean_r"))).as("hi"))
      .select(col("event_type"),
        expr("round(lo, 4)").as("boot_lo"),
        expr("round(med, 4)").as("boot_med"),
        expr("round(hi, 4)").as("boot_hi"))
  }

  val qBootstrapCiSql: String = {
    val wCase = poissonThresholds.zipWithIndex
      .map { case (th, i) => s"WHEN u < $th THEN $i" }
      .mkString("CASE ", " ", " ELSE 8 END")
    s"""WITH reps AS (
       |  SELECT event_type, event_id,
       |    CAST(round(value * 1000000) AS BIGINT) AS v, r
       |  FROM events, range(0, 32) t(r)),
       |u AS (
       |  SELECT event_type, v, r,
       |    ((((event_id % 1000000007) * 1048573 + r) % 1000000007)
       |     * 2654435761 + 1013904223) % 1000000007 % 1048576 AS u
       |  FROM reps),
       |wv AS (SELECT event_type, v, r, $wCase AS w FROM u),
       |m AS (
       |  SELECT event_type, r,
       |    CAST(sum(w * v) AS DOUBLE) / sum(w) / 1000000.0 AS mean_r
       |  FROM wv GROUP BY 1, 2),
       |o AS (
       |  SELECT event_type, mean_r,
       |    row_number() OVER (PARTITION BY event_type
       |                       ORDER BY mean_r, r) AS rn
       |  FROM m)
       |SELECT event_type,
       |  round(max(CASE WHEN rn = 2 THEN mean_r END), 4) + 0 AS boot_lo,
       |  round(max(CASE WHEN rn = 16 THEN mean_r END), 4) + 0 AS boot_med,
       |  round(max(CASE WHEN rn = 31 THEN mean_r END), 4) + 0 AS boot_hi
       |FROM o GROUP BY 1""".stripMargin
  }
}
