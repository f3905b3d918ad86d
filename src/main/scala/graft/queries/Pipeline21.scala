package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 18: rolling correlation, Welch's t-test,
  * trajectory midpoint interpolation, and a malformed-record
  * ingestion audit.
  */
object Pipeline21 {

  /** D71: trailing-7-day rolling Pearson correlation between each
    * event type's daily count series and the whole-corpus daily
    * count series — the "does this type follow overall traffic"
    * audit behind incident triage (a type that decouples from the
    * corpus mix is the anomaly candidate; D63's lag-1 autocorr reads
    * persistence, this reads co-movement, windowed).
    *
    * Scale shape: the corpus collapses ONCE to (type, day) integer
    * counts; the day×type grid is zero-filled (calendar × ~5 types —
    * bounded at any corpus scale) so windows see aligned series; all
    * five rolling moments are exact LONG window sums; the one double
    * expression per row is evaluated from those exact integers and
    * rounded at 4 dp (identical parse tree both engines). Full
    * windows only; zero-variance windows yield SQL NULL.
    */
  def qRollingCorr(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val days  = daily.select(col("day")).distinct()
    val types = daily.select(col("event_type")).distinct()
    val tot = daily.groupBy(col("day")).agg(sum(col("x")).as("y"))
    val grid = days
      .crossJoin(broadcast(types))
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .join(tot, Seq("day"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    val wn = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val m = grid
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .withColumn("rn", row_number().over(wn))
      .filter(col("rn") >= 7)
    val num = lit(7.0) * col("sxy") - col("sx").cast("double") * col("sy")
    val dx  = lit(7.0) * col("sxx") - col("sx").cast("double") * col("sx")
    val dy  = lit(7.0) * col("syy") - col("sy").cast("double") * col("sy")
    m.select(col("event_type"), col("day"),
      round(
        when(col("sxy") * 0 === 0 && dx > 0 && dy > 0,
          num / sqrt(dx * dy)).otherwise(lit(null)),
        4).as("corr_7d"))
  }

  val qRollingCorrSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT day FROM daily),
      |types AS (SELECT DISTINCT event_type FROM daily),
      |tot AS (SELECT day, CAST(sum(x) AS BIGINT) AS y FROM daily GROUP BY 1),
      |grid AS (
      |  SELECT t.event_type, d.day, coalesce(dl.x, 0) AS x, tt.y
      |  FROM days d CROSS JOIN types t
      |  LEFT JOIN daily dl ON dl.event_type = t.event_type AND dl.day = d.day
      |  JOIN tot tt ON tt.day = d.day),
      |m AS (
      |  SELECT event_type, day,
      |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
      |    sum(y * y) OVER w AS syy,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM grid
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT event_type, day,
      |  round(CASE WHEN (7.0 * sxx - CAST(sx AS DOUBLE) * sx) > 0
      |              AND (7.0 * syy - CAST(sy AS DOUBLE) * sy) > 0
      |         THEN (7.0 * sxy - CAST(sx AS DOUBLE) * sy)
      |              / sqrt((7.0 * sxx - CAST(sx AS DOUBLE) * sx)
      |                     * (7.0 * syy - CAST(sy AS DOUBLE) * sy))
      |         END, 4) + 0 AS corr_7d
      |FROM m WHERE rn >= 7""".stripMargin

  /** D72: Welch's unequal-variance t-test between two customer
    * segments' order values — the parametric A/B companion that
    * completes the trio with D52 (proportion lift) and D67
    * (rank-sum): D67 needs no distribution assumption; this reads
    * effect size in value units with a degrees-of-freedom estimate.
    *
    * Scale shape: ONE map-side-combined aggregate produces the six
    * exact moments (n, Σc, Σc² per group — Σc² in DECIMAL(38);
    * cents² sums overflow 2⁶³ at sf≳1); t and the Welch-Satterthwaite
    * df are a single closed-form double expression over those exact
    * integers, written with the identical parse tree in the oracle,
    * rounded at 4 dp. Zero shuffled rows beyond the 1-row moment set.
    */
  def qWelchTtest(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val base = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select((col("c_mktsegment") === "BUILDING").as("g1"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
    val m = base.agg(
      sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("g1"), col("c")).otherwise(0L)).as("s1"),
      sum(when(col("g1"), col("c").cast("decimal(38,0)") * col("c"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("q1"),
      sum(when(!col("g1"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("g1"), col("c")).otherwise(0L)).as("s2"),
      sum(when(!col("g1"), col("c").cast("decimal(38,0)") * col("c"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("q2"))
    m.select(col("n1"), col("n2"),
      expr("""round(
        ((CAST(s1 AS DOUBLE) / n1) - (CAST(s2 AS DOUBLE) / n2))
        / sqrt(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * s1) / (n1 - 1)) / n1
             + ((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n2) * s2) / (n2 - 1)) / n2),
        4)""").as("t_stat"),
      expr("""round(
        pow(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * s1) / (n1 - 1)) / n1
          + ((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n2) * s2) / (n2 - 1)) / n2, 2)
        / (pow(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * s1) / (n1 - 1)) / n1, 2) / (n1 - 1)
         + pow(((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n2) * s2) / (n2 - 1)) / n2, 2) / (n2 - 1)),
        4)""").as("df"))
  }

  val qWelchTtestSql: String =
    """WITH b AS (
      |  SELECT c_mktsegment = 'BUILDING' AS g1,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN g1 THEN c ELSE 0 END) AS BIGINT) AS s1,
      |    sum(CASE WHEN g1 THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q1,
      |    CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN g1 THEN 0 ELSE c END) AS BIGINT) AS s2,
      |    sum(CASE WHEN g1 THEN 0 ELSE CAST(c AS HUGEINT) * c END) AS q2
      |  FROM b)
      |SELECT n1, n2,
      |  round(
      |    ((CAST(s1 AS DOUBLE) / n1) - (CAST(s2 AS DOUBLE) / n2))
      |    / sqrt(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * s1) / (n1 - 1)) / n1
      |         + ((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n2) * s2) / (n2 - 1)) / n2),
      |  4) + 0 AS t_stat,
      |  round(
      |    pow(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * s1) / (n1 - 1)) / n1
      |      + ((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n2) * s2) / (n2 - 1)) / n2, 2)
      |    / (pow(((CAST(q1 AS DOUBLE) - (CAST(s1 AS DOUBLE) / n1) * s1) / (n1 - 1)) / n1, 2) / (n1 - 1)
      |     + pow(((CAST(q2 AS DOUBLE) - (CAST(s2 AS DOUBLE) / n2) * s2) / (n2 - 1)) / n2, 2) / (n2 - 1)),
      |  4) + 0 AS df
      |FROM m""".stripMargin

  /** C14: trajectory midpoint — the point halfway along each user's
    * path by great-circle length (the map-matching / label-placement
    * primitive; C13's bearings read direction, this reads position
    * at a path fraction).
    *
    * Scale shape: per-user windows over trajectory points (the C13
    * lag idiom); segment lengths are QUANTIZED to exact ×10⁴ integer
    * meters-ish units so the cumulative sum is order-independent
    * integer math (a raw double cumsum would be engine-fold-order
    * sensitive at the 4th decimal); segment selection is `2·cum ≥
    * total` on integers; only the final within-segment interpolation
    * is one double expression, rounded at 4 dp. Degenerate paths
    * (all segments zero-length) interpolate at fraction 0.
    */
  def geoPointAlong(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val p = t.events.select(
      col("event_id"), col("user_id"), col("ts"),
      (col("value") % 180.0).as("lon"),
      (get_json_object(col("props"), "$.k").cast("double") % 90.0).as("lat"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seg = p
      .withColumn("plon", lag(col("lon"), 1).over(w))
      .withColumn("plat", lag(col("lat"), 1).over(w))
      .filter(col("plon").isNotNull)
    // haversine, the C4 formulation; quantized to ×10⁴ fixed point
    val dphi = radians(col("lat") - col("plat"))
    val dlam = radians(col("lon") - col("plon"))
    val a = pow(sin(dphi / 2), 2) +
      cos(radians(col("plat"))) * cos(radians(col("lat"))) * pow(sin(dlam / 2), 2)
    val km = lit(2.0) * lit(6371.0) * asin(sqrt(a))
    val withLen = seg.withColumn("seg_fx",
      round(km * lit(10000)).cast("long"))
    val cumW = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = withLen
      .withColumn("cum", sum(col("seg_fx")).over(cumW))
      .withColumn("tot", sum(col("seg_fx")).over(
        Window.partitionBy(col("user_id"))))
    val firstHalf = cum
      .filter(col("cum") * 2 >= col("tot"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val f = when(col("seg_fx") > 0,
      (col("tot").cast("double") - lit(2.0) * (col("cum") - col("seg_fx")))
        / (lit(2.0) * col("seg_fx"))).otherwise(lit(0.0))
    firstHalf.select(col("user_id"),
      round(col("plon") + f * (col("lon") - col("plon")), 4).as("mid_lon"),
      round(col("plat") + f * (col("lat") - col("plat")), 4).as("mid_lat"))
  }

  val geoPointAlongSql: String =
    """WITH p AS (
      |  SELECT event_id, user_id, ts, value % 180.0 AS lon,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) % 90.0 AS lat
      |  FROM events),
      |q AS (
      |  SELECT user_id, ts, event_id, lon, lat,
      |    lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
      |  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |seg AS (
      |  SELECT user_id, ts, event_id, lon, lat, plon, plat,
      |    CAST(round((2.0 * 6371.0 * asin(sqrt(
      |      pow(sin(radians(lat - plat) / 2), 2)
      |      + cos(radians(plat)) * cos(radians(lat))
      |        * pow(sin(radians(lon - plon) / 2), 2)))) * 10000) AS BIGINT)
      |      AS seg_fx
      |  FROM q WHERE plon IS NOT NULL),
      |c AS (
      |  SELECT user_id, ts, event_id, lon, lat, plon, plat, seg_fx,
      |    sum(seg_fx) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(seg_fx) OVER (PARTITION BY user_id) AS tot
      |  FROM seg),
      |h AS (
      |  SELECT user_id, lon, lat, plon, plat, seg_fx, cum, tot,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM c WHERE cum * 2 >= tot)
      |SELECT user_id,
      |  round(plon + (CASE WHEN seg_fx > 0
      |    THEN (CAST(tot AS DOUBLE) - 2.0 * (cum - seg_fx)) / (2.0 * seg_fx)
      |    ELSE 0.0 END) * (lon - plon), 4) + 0 AS mid_lon,
      |  round(plat + (CASE WHEN seg_fx > 0
      |    THEN (CAST(tot AS DOUBLE) - 2.0 * (cum - seg_fx)) / (2.0 * seg_fx)
      |    ELSE 0.0 END) * (lat - plat), 4) + 0 AS mid_lat
      |FROM h WHERE rn = 1""".stripMargin

  /** A20: malformed-record ingestion audit — read a JSONL lake where
    * a deterministic subset of lines is corrupt, in PERMISSIVE mode
    * with a `_corrupt_record` column, and report per-type survivor
    * aggregates plus the quarantined count under a sentinel type.
    * The tolerance contract every crawl/export ingest needs: one bad
    * line must cost one row, never the file or the job (FAILFAST)
    * and never a silent drop (DROPMALFORMED).
    *
    * Scale shape: the corrupt branch is decided map-side at staging;
    * reading is one schema-projected JSON scan; the report is a
    * bounded per-type aggregate.
    */
  def srcMalformedJsonl(spark: SparkSession, dir: String): DataFrame = {
    val stage = graft.util.SessionStage.dir(spark, dir, "src_badjson") { out =>
      Tables(spark, dir).events
        .select(col("event_id"), col("event_type"), col("value"))
        .select(
          when(pmod(col("event_id"), lit(7)) === 0,
            concat(lit("{\"event_id\":"), col("event_id"),
              lit(",\"event_type\":\"truncated")))
            .otherwise(to_json(struct(col("event_id"), col("event_type"),
              col("value")))).as("value"))
        .write.mode("overwrite").text(out.toString)
    }
    val read = spark.read
      .schema("event_id BIGINT, event_type STRING, value DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(stage.toString)
    read
      .select(
        when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("event_type")).as("event_type"),
        when(col("_corrupt_record").isNotNull, lit(0.0))
          .otherwise(col("value")).as("value"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
  }

  /** The oracle restates the corruption rule on the ORIGINAL table:
    * event_id ≡ 0 (mod 7) rows are quarantined, the rest survive
    * with exact values (doubles survive the shortest-representation
    * JSON round trip — the A16/A17 contract).
    */
  val srcMalformedJsonlSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(sum(value), 4) + 0 AS total_value
      |FROM events WHERE event_id % 7 <> 0 GROUP BY event_type
      |UNION ALL
      |SELECT '_corrupt' AS event_type, count(*) AS n, 0.0 AS total_value
      |FROM events WHERE event_id % 7 = 0""".stripMargin
}
