package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 35: rank-sum ROC-AUC, winsorized means,
  * and median imputation — the model-evaluation / robust-cleaning
  * trio a training-data pipeline runs after the quality classifier
  * (G16) scores the corpus.
  */
object Pipeline40 {

  /** D98: per-source ROC-AUC of document length as a predictor of
    * "is English" — the rank-sum (Mann–Whitney) AUC with exact
    * tie handling, the standard audit of any corpus quality score
    * ("does this feature actually separate the classes, per
    * source?"). Emitted as an exact ×10⁶ integer so no float
    * division can diverge across engines: with min-rank r and tie
    * width c, the tied block's average rank is (2r + c − 1)/2, so
    *   auc_fx = 10⁶ · (Σ_pos (2r+c−1) − npos(npos+1)) / (2·npos·nneg)
    * entirely in integer arithmetic (null when a class is absent).
    *
    * Scale shape: the window runs over the COMPACTED (source,
    * n_chars) distinct-value table (the G12 bigram-LM compaction),
    * never the corpus — ranks are rebuilt from cumulative tie
    * counts, so the per-source sort touches |distinct lengths|
    * rows. Corpus-sized work is one map-side-combined groupBy.
    * Integer bound: 10⁶·2n² needs n ≲ 6.8·10⁷ docs per source in a
    * signed long — beyond that, emit the three raw aggregates and
    * divide in the reader.
    */
  def qRocAuc(t: Tables): DataFrame = {
    val g = t.documents
      .groupBy(col("source"), col("n_chars"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = g
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("two_avg", lit(2L) * (col("cum") - col("cnt") + 1L) + col("cnt") - 1L)
    ranked
      .groupBy(col("source"))
      .agg(
        sum(col("pos") * col("two_avg")).as("s2"),
        sum(col("pos")).as("npos"),
        sum(col("cnt")).as("n"))
      .select(
        col("source"), col("npos"), (col("n") - col("npos")).as("nneg"),
        when(col("npos") > 0 && col("n") - col("npos") > 0,
          expr("(1000000 * (s2 - npos * (npos + 1))) div (2 * npos * (n - npos))"))
          .as("auc_fx"))
  }

  val qRocAucSql: String =
    """WITH g AS (
      |  SELECT source, n_chars, count(*) AS cnt,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
      |  FROM documents GROUP BY 1, 2),
      |r AS (
      |  SELECT source, pos, cnt,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM g),
      |a AS (
      |  SELECT source,
      |    sum(pos * (2 * (cum - cnt + 1) + cnt - 1)) AS s2,
      |    sum(pos) AS npos, sum(cnt) AS n
      |  FROM r GROUP BY 1)
      |SELECT source, CAST(npos AS BIGINT) AS npos,
      |  CAST(n - npos AS BIGINT) AS nneg,
      |  CAST(CASE WHEN npos > 0 AND n - npos > 0
      |       THEN (1000000 * (s2 - npos * (npos + 1))) // (2 * npos * (n - npos))
      |       END AS BIGINT) AS auc_fx
      |FROM a""".stripMargin

  /** D99: winsorized mean of event value per event type — clip at
    * the exact rank-based P10/P90 (smallest value whose cumulative
    * count reaches ⌈q·n⌉, the percentile_disc convention) before
    * averaging, the robust-mean form that survives the heavy-tailed
    * value distributions raw telemetry always has (D33's MAD flags
    * outliers; this *absorbs* them into a usable central estimate).
    * Cents + ×10⁴ integer mean keep every engine bit-identical.
    *
    * Scale shape: same compaction as D98 — the cumulative window
    * walks (type, distinct cents) rows, the corpus pays one
    * map-side-combined count groupBy; the clip bounds come back as
    * a broadcast of |types| rows, and the clipped re-aggregation
    * reuses the compacted table, so nothing corpus-sized shuffles
    * twice.
    */
  def qWinsorize(t: Tables): DataFrame = {
    val c = t.events
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = c
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val bounds = cum
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 9) div 10"), col("cents"))).as("lo_cents"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("cents"))).as("hi_cents"))
    c.join(broadcast(bounds), "event_type")
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n"),
        max(col("lo_cents")).as("lo_cents"),
        max(col("hi_cents")).as("hi_cents"),
        sum(col("cnt") * greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("wsum_cents"))
      .withColumn("wmean_fx", expr("(10000 * wsum_cents) div n"))
  }

  val qWinsorizeSql: String =
    """WITH c AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |k AS (
      |  SELECT event_type, cents, cnt,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM c),
      |b AS (
      |  SELECT event_type, max(n) AS n,
      |    min(CASE WHEN cum >= (n + 9) // 10 THEN cents END) AS lo_cents,
      |    min(CASE WHEN cum >= (9 * n + 9) // 10 THEN cents END) AS hi_cents
      |  FROM k GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n, lo_cents, hi_cents,
      |  CAST(wsum_cents AS BIGINT) AS wsum_cents,
      |  CAST((10000 * wsum_cents) // n AS BIGINT) AS wmean_fx
      |FROM (
      |  SELECT c.event_type, max(b.n) AS n,
      |    max(b.lo_cents) AS lo_cents, max(b.hi_cents) AS hi_cents,
      |    sum(c.cnt * greatest(least(c.cents, b.hi_cents), b.lo_cents)) AS wsum_cents
      |  FROM c JOIN b USING (event_type) GROUP BY 1) x""".stripMargin

  /** D100: median imputation of error-event values — treat `error`
    * rows' values as missing, rebuild them from the user's own
    * lower median (exact: smallest value whose cumulative count
    * reaches ⌊(n+1)/2⌋) over non-error events, and emit the
    * repaired per-user total. The cleaning step between D33
    * (flag outliers) and downstream per-user aggregates: sensor
    * and billing pipelines do exactly this repair before summing.
    * Users with only error events have no donor median and are
    * excluded (inner join on the median table).
    *
    * Scale shape: median via the compacted (user, cents) count
    * table — per-user windows parallelize across the user key
    * (high cardinality), each partition walking distinct values,
    * not events; the error-side and real-side rollups are plain
    * map-side-combined aggs joined user-keyed.
    */
  def qImputeMedian(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val nonerr = ev.filter(col("event_type") =!= "error")
    val c = nonerr.groupBy(col("user_id"), col("cents")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("user_id"))
    val med = c
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("user_id"))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("cents"))).as("med_cents"))
    val real = nonerr.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_real"), sum(col("cents")).as("real_cents"))
    val imp = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_imputed"))
    real.join(med, "user_id")
      .join(imp, Seq("user_id"), "left")
      .select(
        col("user_id"), col("n_real"),
        coalesce(col("n_imputed"), lit(0L)).as("n_imputed"),
        col("med_cents"),
        (col("real_cents") + coalesce(col("n_imputed"), lit(0L)) * col("med_cents"))
          .as("total_cents"))
  }

  val qImputeMedianSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |c AS (
      |  SELECT user_id, cents, count(*) AS cnt
      |  FROM ev WHERE event_type <> 'error' GROUP BY 1, 2),
      |k AS (
      |  SELECT user_id, cents, cnt,
      |    sum(cnt) OVER (PARTITION BY user_id ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY user_id) AS n
      |  FROM c),
      |med AS (
      |  SELECT user_id,
      |    min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS med_cents
      |  FROM k GROUP BY 1),
      |real AS (
      |  SELECT user_id, count(*) AS n_real, sum(cents) AS real_cents
      |  FROM ev WHERE event_type <> 'error' GROUP BY 1),
      |imp AS (
      |  SELECT user_id, count(*) AS n_imputed
      |  FROM ev WHERE event_type = 'error' GROUP BY 1)
      |SELECT r.user_id, r.n_real, coalesce(i.n_imputed, 0) AS n_imputed,
      |  m.med_cents,
      |  CAST(r.real_cents + coalesce(i.n_imputed, 0) * m.med_cents AS BIGINT)
      |    AS total_cents
      |FROM real r JOIN med m USING (user_id)
      |LEFT JOIN imp i ON r.user_id = i.user_id""".stripMargin
}
