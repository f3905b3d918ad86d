package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 15: RFM customer segmentation, lag-1
  * autocorrelation, consecutive-day activity streaks, daily OHLC
  * bars, and Jensen-Shannon corpus drift.
  */
object Pipeline18 {

  /** D62: RFM segmentation — per-customer Recency / Frequency /
    * Monetary quartiles (the classic marketing-analytics cut of the
    * orders fact; reference: cli.py's sector scoring buckets are
    * the same rank-into-k-tiles shape).
    *
    * Scale shape: orders collapse to one row per customer via a
    * single map-side-combined aggregate (monetary in exact integer
    * cents — no float-sum order sensitivity); the three quartile
    * assignments are CHAINED [[GlobalRank.ntileExact]] passes over
    * that customer-bounded table — Spark's sampled range partition
    * sorts in parallel, no single-task global window, and no
    * re-joins (each pass appends its score column in place). Ties
    * break on custkey, so every score is deterministic.
    */
  def qRfm(t: Tables): DataFrame = {
    val base = t.orders
      .groupBy(col("o_custkey"))
      .agg(
        max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_cents"))
    val ref = base.agg(max(col("last_day")).as("ref_day"))
    val withR = base
      .crossJoin(broadcast(ref))
      .withColumn("recency_days",
        datediff(col("ref_day"), col("last_day")).cast("long"))
      .drop("ref_day", "last_day")
    val r = GlobalRank.ntileExact(withR,
      Seq(col("recency_days").asc, col("o_custkey").asc), k = 4, out = "r_score")
    val rf = GlobalRank.ntileExact(r,
      Seq(col("frequency").desc, col("o_custkey").asc), k = 4, out = "f_score")
    GlobalRank.ntileExact(rf,
      Seq(col("monetary_cents").desc, col("o_custkey").asc), k = 4, out = "m_score")
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"))
  }

  val qRfmSql: String =
    """WITH base AS (
      |  SELECT o_custkey,
      |    date_diff('day', max(CAST(o_orderdate AS DATE)),
      |      (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS recency_days,
      |    count(*) AS frequency,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, recency_days, frequency, monetary_cents,
      |  ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_score,
      |  ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
      |  ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
      |FROM base""".stripMargin

  /** D63: lag-1 autocorrelation of the daily event-count series per
    * event type — the "is today like yesterday" persistence signal
    * behind anomaly baselines and forecast-model selection (high
    * autocorr → D49 Holt; low → plain mean reversion).
    *
    * Scale shape: the corpus collapses to (type, day) integer counts
    * via one map-side-combined aggregate; the lag window runs
    * PARTITIONED by type on that calendar-bounded table (days, not
    * events), and `corr` reduces each type to constant moment state.
    */
  def qAutocorr(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev", lag(col("cnt"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("event_type"))
      .agg(corr(col("cnt"), col("prev")).as("raw"), count(lit(1)).as("n_pairs"))
      // zero-variance / single-pair series: Spark's corr yields NaN
      // where SQL engines yield NULL — normalize to NULL.
      .select(col("event_type"),
        round(when(isnan(col("raw")), lit(null)).otherwise(col("raw")), 4)
          .as("autocorr"),
        col("n_pairs"))
  }

  val qAutocorrSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS DOUBLE) AS cnt
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, cnt,
      |    lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS prev
      |  FROM daily)
      |SELECT event_type, round(corr(cnt, prev), 4) + 0 AS autocorr,
      |  count(*) AS n_pairs
      |FROM lagged WHERE prev IS NOT NULL GROUP BY 1""".stripMargin

  /** D64: longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom on the calendar (engagement/retention
    * metric; D28's retention matrix answers "came back", this
    * answers "came back EVERY day").
    *
    * Scale shape: events collapse to distinct (user, day) first —
    * calendar-bounded per user — then the island anchor is
    * `day - row_number()` (consecutive days share an anchor), and
    * two map-side-combined aggregates produce streak lengths and the
    * per-user max. The only corpus-sized exchange is the distinct;
    * the window runs on the compacted table.
    */
  def qStreaks(t: Tables): DataFrame = {
    val days = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("anchor", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(
        max(col("len")).as("max_streak"),
        sum(col("len")).as("n_days"))
  }

  val qStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS anchor
      |  FROM days),
      |g AS (SELECT user_id, anchor, count(*) AS len FROM isl GROUP BY 1, 2)
      |SELECT user_id, max(len) AS max_streak,
      |  CAST(sum(len) AS BIGINT) AS n_days
      |FROM g GROUP BY 1""".stripMargin

  /** D65: daily OHLC bars per event type — open/high/low/close of
    * `value` over each (type, day), the time-series compaction
    * every metrics store ships (candlesticks, rollup tiles).
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus;
    * open/close are `min_by`/`max_by` against the (ts, event_id)
    * struct — a constant-state argmin, not a sort — with event_id
    * breaking timestamp ties so the bar is deterministic.
    */
  def qOhlc(t: Tables): DataFrame = {
    val ord = struct(col("ts"), col("event_id"))
    t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        round(min_by(col("value"), ord), 4).as("open"),
        round(max(col("value")), 4).as("high"),
        round(min(col("value")), 4).as("low"),
        round(max_by(col("value"), ord), 4).as("close"),
        count(lit(1)).as("n_events"))
  }

  val qOhlcSql: String =
    """WITH ranked AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, value,
      |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |                       ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
      |                       ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT event_type, day,
      |  round(max(CASE WHEN rn_a = 1 THEN value END), 4) + 0 AS open,
      |  round(max(value), 4) + 0 AS high,
      |  round(min(value), 4) + 0 AS low,
      |  round(max(CASE WHEN rn_d = 1 THEN value END), 4) + 0 AS close,
      |  count(*) AS n_events
      |FROM ranked GROUP BY 1, 2""".stripMargin

  /** G32: Jensen-Shannon drift per source — each source's
    * token-LENGTH distribution against the whole-corpus mix,
    * reported as per-bin JSD contributions (the symmetric,
    * bounded-[0,1] cousin of D39's PSI; length profiles catch
    * template/boilerplate pools and tokenizer-hostile sources
    * without carrying the vocabulary).
    *
    * Scale shape: the corpus collapses to (source, len_bin) integer
    * counts in ONE map-side-combined aggregate (bins capped at 20 —
    * constant width); everything after runs on source×20-bounded
    * tables joined by broadcast. Like D39, contributions are emitted
    * PER BIN from exact integer counts — no cross-bin float sum to
    * order-destabilize — so the oracle comparison is exact at 6 dp.
    * Zero-count (source, bin) cells are grid-filled: their p·log(p/m)
    * term is 0 but the corpus half still contributes.
    */
  def txJsdDrift(t: Tables): DataFrame = {
    // The corpus collapses ONCE to the source×20-bounded count table;
    // localCheckpoint stops the three derived aggregates (bins,
    // source totals, grand total) from each re-exploding the corpus.
    val perSrc = t.documents
      .select(col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("source"), least(length(col("tok")), lit(20)).as("len_bin"))
      .groupBy(col("source"), col("len_bin"))
      .agg(count(lit(1)).as("c_src"))
      .localCheckpoint(true)
    val glob = perSrc.groupBy(col("len_bin")).agg(sum(col("c_src")).as("c_all"))
    val nSrc = perSrc.groupBy(col("source")).agg(sum(col("c_src")).as("n_src"))
    val nAll = glob.agg(sum(col("c_all")).as("n_all"))
    val grid = nSrc
      .crossJoin(broadcast(glob))
      .join(perSrc, Seq("source", "len_bin"), "left")
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("len_bin"),
        coalesce(col("c_src"), lit(0L)).as("c_src"),
        col("c_all"), col("n_src"), col("n_all"))
    val p = col("c_src").cast("double") / col("n_src").cast("double")
    val q = col("c_all").cast("double") / col("n_all").cast("double")
    val m = (p + q) / 2.0
    grid.select(
      col("source"), col("len_bin"), col("c_src"), col("c_all"),
      round(
        when(col("c_src") === 0L, lit(0.0)).otherwise(p * log2(p / m)) * 0.5 +
          (q * log2(q / m)) * 0.5,
        6).as("jsd_contrib"))
  }

  val txJsdDriftSql: String =
    """WITH toks AS (
      |  SELECT source, least(length(tok), 20) AS len_bin
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE length(tok) > 0),
      |per_src AS (
      |  SELECT source, len_bin, count(*) AS c_src FROM toks GROUP BY 1, 2),
      |gbins AS (
      |  SELECT len_bin, CAST(sum(c_src) AS BIGINT) AS c_all FROM per_src GROUP BY 1),
      |n_src AS (
      |  SELECT source, CAST(sum(c_src) AS BIGINT) AS n_src FROM per_src GROUP BY 1),
      |n_all AS (SELECT CAST(sum(c_all) AS BIGINT) AS n_all FROM gbins),
      |grid AS (
      |  SELECT s.source, g.len_bin,
      |    coalesce(p.c_src, 0) AS c_src, g.c_all, s.n_src, a.n_all
      |  FROM n_src s CROSS JOIN gbins g
      |  LEFT JOIN per_src p ON p.source = s.source AND p.len_bin = g.len_bin
      |  CROSS JOIN n_all a)
      |SELECT source, len_bin, CAST(c_src AS BIGINT) AS c_src, c_all,
      |  round(
      |    CASE WHEN c_src = 0 THEN 0.0
      |         ELSE (CAST(c_src AS DOUBLE) / n_src)
      |              * log2((CAST(c_src AS DOUBLE) / n_src)
      |                     / ((CAST(c_src AS DOUBLE) / n_src + CAST(c_all AS DOUBLE) / n_all) / 2)) END * 0.5
      |    + (CAST(c_all AS DOUBLE) / n_all)
      |      * log2((CAST(c_all AS DOUBLE) / n_all)
      |             / ((CAST(c_src AS DOUBLE) / n_src + CAST(c_all AS DOUBLE) / n_all) / 2)) * 0.5,
      |  6) + 0 AS jsd_contrib
      |FROM grid""".stripMargin
}
