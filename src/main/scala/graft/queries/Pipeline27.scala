package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 24: peak-concurrency load metric and the
  * embargoed temporal split.
  */
object Pipeline27 {

  /** D81: peak concurrency per event type — the maximum number of
    * simultaneously open 5-minute activity intervals and the instant
    * it is first reached. The capacity-planning load metric (D60
    * merges a USER's intervals into islands; this counts how many
    * intervals are open at once across users). Tie rule pinned:
    * closings apply before openings at the same instant, peaks break
    * to the earliest time — both as integer orderings.
    *
    * Scale shape: interval endpoints collapse map-side to (type,
    * instant, Σ±1) — the delta table is bounded by distinct
    * timestamps; the cumulative window runs per type over that
    * compacted table (type-parallel; the D47 per-key-window
    * precedent), and the peak is a row_number argmax. All epoch-
    * micros integer math.
    */
  def qPeakConcurrency(t: Tables): DataFrame = {
    val winUs = 300000000L // 5 minutes
    val ev = t.events.select(col("event_type"), expr("unix_micros(ts)").as("us"))
    val deltas = ev.select(col("event_type"), col("us"), lit(1L).as("dd"))
      .unionAll(ev.select(col("event_type"),
        (col("us") + winUs).as("us"), lit(-1L).as("dd")))
      .groupBy(col("event_type"), col("us"))
      .agg(sum(col("dd")).as("delta"))
    val cum = Window.partitionBy(col("event_type")).orderBy(col("us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(col("conc").desc, col("us").asc)
    deltas
      .withColumn("conc", sum(col("delta")).over(cum))
      .withColumn("pk", row_number().over(pick))
      .filter(col("pk") === 1)
      .select(col("event_type"), col("conc").as("peak_concurrency"),
        col("us").as("peak_us"))
  }

  val qPeakConcurrencySql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS us FROM events),
      |d AS (
      |  SELECT event_type, us, CAST(sum(dd) AS BIGINT) AS delta FROM (
      |    SELECT event_type, us, 1 AS dd FROM ev
      |    UNION ALL
      |    SELECT event_type, us + 300000000 AS us, -1 AS dd FROM ev) u
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, us,
      |    CAST(sum(delta) OVER (PARTITION BY event_type ORDER BY us
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      |  FROM d),
      |p AS (
      |  SELECT event_type, conc, us,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY conc DESC, us) AS pk
      |  FROM c)
      |SELECT event_type, conc AS peak_concurrency, us AS peak_us
      |FROM p WHERE pk = 1""".stripMargin

  /** N19: embargoed temporal split — train / embargo / test by
    * calendar day with a 3-day purge gap between train's end and
    * test's start (the time-series cross-validation split that
    * prevents look-ahead leakage through label horizons; N1/N7 hash
    * identity, this splits TIME). Boundary = the 70th percentile
    * active day, computed exactly from the day histogram by
    * cross-multiplied integer comparison — no float percentile, no
    * per-sf knob.
    *
    * Scale shape: one corpus collapse to the day histogram
    * (calendar-bounded); the boundary day is derived on that table
    * and broadcast back as a 1-row join; the split labeling is
    * map-side; the report is a 3-row aggregate.
    */
  def smTimeSplit(t: Tables): DataFrame = {
    val days = t.events.select(to_date(col("ts")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val cumW = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = days.agg(sum(col("cnt")).as("n_all"))
    // earliest day whose cumulative count covers >= 70% of events
    val boundary = days
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 100 >= col("n_all") * 70)
      .agg(min(col("day")).as("train_end"))
    t.events.select(to_date(col("ts")).as("day"))
      .crossJoin(broadcast(boundary))
      .select(
        when(col("day") <= col("train_end"), "train")
          .when(col("day") <= date_add(col("train_end"), 3), "embargo")
          .otherwise("test").as("split"),
        col("day"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
  }

  val smTimeSplitSql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_all FROM d),
      |c AS (
      |  SELECT day,
      |    CAST(sum(cnt) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |         AS BIGINT) AS cum
      |  FROM d),
      |b AS (
      |  SELECT min(day) AS train_end FROM c CROSS JOIN tot
      |  WHERE cum * 100 >= n_all * 70)
      |SELECT CASE WHEN CAST(ts AS DATE) <= b.train_end THEN 'train'
      |            WHEN CAST(ts AS DATE) <= b.train_end + 3 THEN 'embargo'
      |            ELSE 'test' END AS split,
      |  count(*) AS n_events,
      |  min(CAST(ts AS DATE)) AS min_day,
      |  max(CAST(ts AS DATE)) AS max_day
      |FROM events CROSS JOIN b
      |GROUP BY 1""".stripMargin
}
