package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 23: position-based multi-touch
  * attribution and the audience-overlap matrix.
  */
object Pipeline26 {

  /** D79: position-based (U-shaped) multi-touch attribution —
    * conversion credit split 40% first touch / 40% last touch / 20%
    * across the middles, over each user's touchpoints strictly
    * before their first purchase. D32's first/last-touch reports the
    * endpoints; this distributes fractional credit the way
    * marketing-mix dashboards do.
    *
    * Credit is EXACT ppm integers: k=1 → 10⁶ to the only touch; k=2
    * → 500 000 each; k≥3 → 400 000 / 400 000 and the middle pool
    * 200 000 split by integer division with the REMAINDER assigned
    * to the last touch (a pinned rule, so totals conserve exactly
    * and both engines agree bit-for-bit).
    *
    * Scale shape: one user-key window pass anchors the first
    * purchase and positions the touches (per-user bounded); the
    * rollup is a bounded per-type aggregate. No floats anywhere.
    */
  def qAttribution(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
    val anchored = ev.withColumn("p_us",
      min(when(col("event_type") === "purchase", col("us"))).over(w))
      .filter(col("p_us").isNotNull)
    val touches = anchored
      .filter(col("event_type").isin("click", "view", "signup") &&
        col("us") < col("p_us"))
    val ow = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val positioned = touches
      .withColumn("rn", row_number().over(ow).cast("long"))
      .withColumn("k", count(lit(1)).over(w))
    val credited = positioned.withColumn("credit",
      expr("""CASE
        WHEN k = 1 THEN 1000000
        WHEN k = 2 THEN 500000
        WHEN rn = 1 THEN 400000
        WHEN rn = k THEN 400000 + (200000 - (k - 2) * (200000 div (k - 2)))
        ELSE 200000 div (k - 2) END"""))
    credited.groupBy(col("event_type"))
      .agg(sum(col("credit")).as("credit_ppm"),
        count(lit(1)).as("n_touches"))
  }

  val qAttributionSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
      |anchor AS (
      |  SELECT user_id,
      |    CAST(min(CASE WHEN event_type = 'purchase' THEN us END) AS BIGINT)
      |      AS p_us
      |  FROM ev GROUP BY 1),
      |touch AS (
      |  SELECT e.user_id, e.event_type, e.us, e.event_id
      |  FROM ev e JOIN anchor a ON e.user_id = a.user_id
      |  WHERE a.p_us IS NOT NULL
      |    AND e.event_type IN ('click', 'view', 'signup')
      |    AND e.us < a.p_us),
      |pos AS (
      |  SELECT event_type,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |           ORDER BY us, event_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS k
      |  FROM touch)
      |SELECT event_type,
      |  CAST(sum(CASE
      |    WHEN k = 1 THEN 1000000
      |    WHEN k = 2 THEN 500000
      |    WHEN rn = 1 THEN 400000
      |    WHEN rn = k THEN 400000 + (200000 - (k - 2) * (200000 // (k - 2)))
      |    ELSE 200000 // (k - 2) END) AS BIGINT) AS credit_ppm,
      |  count(*) AS n_touches
      |FROM pos GROUP BY 1""".stripMargin

  /** D80: audience-overlap matrix — pairwise user-base overlap
    * between event types (n_a, n_b, n_both, Jaccard ×10⁶): the
    * segment-overlap view behind campaign planning and the
    * type-level cousin of E19's source-overlap contamination matrix.
    *
    * Scale shape: the corpus collapses to distinct (user, type) —
    * the only corpus-sized exchange; the self-join fans out by the
    * per-user TYPE-vocabulary (≤ |types| per user, bounded), never
    * by user pairs; the output is types²-bounded.
    */
  def qAudienceOverlap(t: Tables): DataFrame = {
    val ut = t.events.select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true)
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val both = ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("(1000000 * n_both) div (n_a + n_b - n_both)").as("jaccard_fx"))
  }

  val qAudienceOverlapSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events),
      |sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |ov AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS n_both
      |  FROM ut a JOIN ut b ON a.user_id = b.user_id
      |   AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
      |  (1000000 * n_both) // (sa.n + sb.n - n_both) AS jaccard_fx
      |FROM ov
      |JOIN sizes sa ON sa.event_type = type_a
      |JOIN sizes sb ON sb.event_type = type_b""".stripMargin
}
