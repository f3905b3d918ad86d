package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 40: seasonal exponential smoothing and
  * golden-record survivorship — the forecast the ops dashboard runs
  * on the daily series, and the master-data merge a dedup pipeline
  * performs after clustering.
  */
object Pipeline43 {

  /** D102: additive Holt–Winters (triple exponential smoothing,
    * season m = 7, α = 0.2, β = 0.1, γ = 0.3) per event type —
    * completes the forecast family: D55 seasonal index (static
    * profile), D56 Holt (level + trend), this (level + trend +
    * evolving weekly seasonality). Textbook initialization: level =
    * first-week mean, trend = week-over-week mean difference / 7,
    * seasonals = first-week deviations; updates run from day 15.
    * All arithmetic is ×10⁴ integer with `div` at every smoothing
    * step — Spark `div` and DuckDB `//` both truncate toward zero
    * (verified on negatives), so the fixed point is engine-exact
    * even when deviations or the trend go negative. SQL lambdas
    * have no let-binding, so l′ is repeated verbatim inside b′ and
    * s′ (the D56 convention) — pure integer math, bit-identical at
    * every occurrence.
    *
    * Scale shape: ONE corpus collapse to (type, day) sums; the fold
    * runs on each type's calendar-bounded day array (the D56
    * `aggregate`-HOF shape — state is 10 longs, iteration count =
    * days, independent of corpus size).
    */
  def qHoltWinters(t: Tables): DataFrame = {
    val daily = t.events.select(
      col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("epoch_day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(sum(col("v_fx")).as("x"))
    val series = daily.groupBy(col("event_type"))
      .agg(expr("transform(sort_array(collect_list(struct(epoch_day, x))), s -> s.x)")
        .as("xs"))
      .filter(size(col("xs")) >= 14)
    series.select(
      col("event_type"),
      size(col("xs")).cast("long").as("n_days"),
      expr(
        """aggregate(
          |  slice(xs, 15, size(xs) - 14),
          |  named_struct(
          |    't', CAST(14 AS BIGINT),
          |    'l', aggregate(slice(xs, 1, 7), CAST(0 AS BIGINT), (a, v) -> a + v) div 7,
          |    'b', (aggregate(slice(xs, 8, 7), CAST(0 AS BIGINT), (a, v) -> a + v)
          |          - aggregate(slice(xs, 1, 7), CAST(0 AS BIGINT), (a, v) -> a + v)) div 49,
          |    's', transform(slice(xs, 1, 7), v ->
          |           v - aggregate(slice(xs, 1, 7), CAST(0 AS BIGINT), (a, v2) -> a + v2) div 7)),
          |  (acc, x) -> named_struct(
          |    't', acc.t + 1,
          |    'l', (2 * (x - element_at(acc.s, CAST(acc.t % 7 + 1 AS INT))) + 8 * (acc.l + acc.b)) div 10,
          |    'b', ((((2 * (x - element_at(acc.s, CAST(acc.t % 7 + 1 AS INT))) + 8 * (acc.l + acc.b)) div 10) - acc.l)
          |          + 9 * acc.b) div 10,
          |    's', transform(sequence(0, 6), j -> IF(j = CAST(acc.t % 7 AS INT),
          |           (3 * (x - ((2 * (x - element_at(acc.s, CAST(acc.t % 7 + 1 AS INT))) + 8 * (acc.l + acc.b)) div 10))
          |            + 7 * element_at(acc.s, CAST(acc.t % 7 + 1 AS INT))) div 10,
          |           element_at(acc.s, j + 1)))),
          |  acc -> acc)""".stripMargin).as("hw"))
      .select(col("event_type"), col("n_days"),
        col("hw.l").as("level_fx"), col("hw.b").as("trend_fx"),
        (col("hw.l") + col("hw.b") +
          expr("element_at(hw.s, CAST(hw.t % 7 + 1 AS INT))")).as("forecast1_fx"))
  }

  val qHoltWintersSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS epoch_day,
      |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY epoch_day) AS t
      |  FROM daily),
      |n AS (SELECT event_type, max(t) AS tmax FROM d GROUP BY 1 HAVING max(t) >= 14),
      |init AS (
      |  SELECT d.event_type,
      |    CAST(14 AS BIGINT) AS t,
      |    (SELECT sum(x) FROM d a WHERE a.event_type = d.event_type AND a.t <= 7) // 7 AS l,
      |    ((SELECT sum(x) FROM d a WHERE a.event_type = d.event_type AND a.t BETWEEN 8 AND 14)
      |     - (SELECT sum(x) FROM d a WHERE a.event_type = d.event_type AND a.t <= 7)) // 49 AS b,
      |    (SELECT list(x - ((SELECT sum(x2.x) FROM d x2
      |                       WHERE x2.event_type = d.event_type AND x2.t <= 7) // 7) ORDER BY t)
      |     FROM d s WHERE s.event_type = d.event_type AND s.t <= 7) AS s
      |  FROM d JOIN n USING (event_type) WHERE d.t = 1),
      |rec AS (
      |  SELECT * FROM init
      |  UNION ALL
      |  SELECT rec.event_type, rec.t + 1,
      |    (2 * (d.x - rec.s[(rec.t % 7) + 1]) + 8 * (rec.l + rec.b)) // 10,
      |    ((((2 * (d.x - rec.s[(rec.t % 7) + 1]) + 8 * (rec.l + rec.b)) // 10) - rec.l)
      |     + 9 * rec.b) // 10,
      |    list_transform(range(0, 7), j -> CASE WHEN j = rec.t % 7
      |      THEN (3 * (d.x - ((2 * (d.x - rec.s[(rec.t % 7) + 1]) + 8 * (rec.l + rec.b)) // 10))
      |            + 7 * rec.s[(rec.t % 7) + 1]) // 10
      |      ELSE rec.s[j + 1] END)
      |  FROM rec JOIN d ON d.event_type = rec.event_type AND d.t = rec.t + 1)
      |SELECT r.event_type, CAST(n.tmax AS BIGINT) AS n_days,
      |  CAST(r.l AS BIGINT) AS level_fx, CAST(r.b AS BIGINT) AS trend_fx,
      |  CAST(r.l + r.b + r.s[(r.t % 7) + 1] AS BIGINT) AS forecast1_fx
      |FROM rec r JOIN n ON r.event_type = n.event_type AND r.t = n.tmax""".stripMargin

  /** E28: golden-record survivorship over the E6 near-dup clusters —
    * after connected components says WHICH docs are the same thing,
    * the master-data-management step decides what the surviving
    * record looks like: per cluster the longest member survives
    * (ties → smallest id), the language is the cluster mode (ties →
    * alphabetical), plus member count and total length. E17 picks a
    * representative ROW; this MERGES fields from different members —
    * the difference between "keep one" and "build the best one".
    *
    * Scale shape: clusters come from the session-materialized E6
    * labels (near-dup-member-sized, tiny); both the survivor argmax
    * (`max_by` over a (n_chars, −doc_id) struct — constant state,
    * map-side combined) and the language mode (compacted (cluster,
    * lang) counts, bounded argmax) aggregate the member-sized join,
    * never the corpus.
    */
  def ddSurvivorship(t: Tables): DataFrame = {
    val members = LlmQueries.ccLabels(t)
      .join(t.documents, col("node") === col("doc_id"))
    val base = members.groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"),
        expr("max_by(doc_id, struct(n_chars, -doc_id))").as("survivor_id"))
    // Mode with ALPHABETICAL count-ties (the D61 convention):
    // max_by(struct(cnt, lang)) would break ties by the LARGEST lang
    // string — invert via min_by over (−cnt, lang).
    val langModeAlpha = members.groupBy(col("component"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("component"))
      .agg(expr("min_by(lang, struct(-cnt, lang))").as("lang_mode"))
    base.join(langModeAlpha, "component")
      .select(col("component"), col("n_members"), col("survivor_id"),
        col("max_chars"), col("total_chars"), col("lang_mode"))
  }

  val ddSurvivorshipSql: String =
    s"""WITH RECURSIVE pairs AS (${LlmQueries.ddNgramJaccardSql}),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (SELECT a, b FROM edges
       |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a),
       |m AS (SELECT c.component, d.doc_id, d.lang, d.n_chars
       |      FROM comp c JOIN documents d ON d.doc_id = c.node),
       |base AS (
       |  SELECT component, count(*) AS n_members,
       |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |    max(n_chars) AS max_chars
       |  FROM m GROUP BY 1),
       |surv AS (
       |  SELECT component, doc_id AS survivor_id FROM (
       |    SELECT component, doc_id,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY n_chars DESC, doc_id) AS rn
       |    FROM m) x
       |  WHERE rn = 1),
       |lm AS (SELECT component, lang, count(*) AS cnt FROM m GROUP BY 1, 2),
       |mode AS (
       |  SELECT component, lang AS lang_mode FROM (
       |    SELECT component, lang,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY cnt DESC, lang) AS rn
       |    FROM lm) x
       |  WHERE rn = 1)
       |SELECT b.component, b.n_members, s.survivor_id, b.max_chars,
       |  b.total_chars, mo.lang_mode
       |FROM base b JOIN surv s USING (component)
       |JOIN mode mo USING (component)""".stripMargin
}
