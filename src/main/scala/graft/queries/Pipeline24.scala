package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 21: time-boxed funnel conversion,
  * prefix-tree hierarchy rollup, and MMR diversified re-ranking.
  */
object Pipeline24 {

  /** D76: time-boxed funnel — signup → click → purchase where the
    * whole chain must complete within 1 hour of the user's FIRST
    * signup and each step must follow the previous one. D30's funnel
    * counts unordered lifetime reach; real conversion funnels are
    * time-boxed, and the windowed variant is what changes when the
    * product changes.
    *
    * Scale shape: one per-user window attaches the anchor signup
    * time to the user's rows (user-key exchange), then ONE
    * map-side-combined conditional aggregate derives the step
    * timestamps; the funnel counts are a second, 1-row aggregate.
    * All time comparisons are exact epoch-micros integer math.
    */
  def qFunnelWindowed(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("us"))
    val w = Window.partitionBy(col("user_id"))
    val anchored = ev.withColumn("s_us",
      min(when(col("event_type") === "signup", col("us"))).over(w))
      .filter(col("s_us").isNotNull)
    val hourUs = 3600000000L
    val perUser = anchored
      .groupBy(col("user_id"))
      .agg(
        min(col("s_us")).as("s_us"),
        min(when(col("event_type") === "click" &&
          col("us") > col("s_us") &&
          col("us") <= col("s_us") + hourUs, col("us"))).as("c_us"))
    // purchase needs the click anchor — second conditional pass on
    // the same user-partitioned rows via a join back (user-key
    // equi-join, both sides already user-partitioned).
    val withP = anchored
      .join(perUser.select(col("user_id"), col("c_us")), Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("c_us").isNotNull &&
        col("us") > col("c_us") &&
        col("us") <= col("s_us") + hourUs, col("us"))).as("p_us"),
        min(col("c_us")).as("c_us2"))
    withP.agg(
      count(lit(1)).as("n_signup"),
      sum(when(col("c_us2").isNotNull, 1L).otherwise(0L)).as("n_click_1h"),
      sum(when(col("p_us").isNotNull, 1L).otherwise(0L)).as("n_purchase_1h"))
      .select(col("n_signup"), col("n_click_1h"), col("n_purchase_1h"),
        expr("(1000000 * n_purchase_1h) div n_signup").as("conv_fx"))
  }

  val qFunnelWindowedSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |anchor AS (
      |  SELECT user_id, CAST(min(CASE WHEN event_type = 'signup' THEN us END)
      |                       AS BIGINT) AS s_us
      |  FROM ev GROUP BY 1),
      |a AS (SELECT user_id, s_us FROM anchor WHERE s_us IS NOT NULL),
      |c AS (
      |  SELECT e.user_id, a.s_us,
      |    CAST(min(CASE WHEN e.event_type = 'click' AND e.us > a.s_us
      |                   AND e.us <= a.s_us + 3600000000 THEN e.us END)
      |         AS BIGINT) AS c_us
      |  FROM ev e JOIN a ON e.user_id = a.user_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT e.user_id, c.c_us,
      |    CAST(min(CASE WHEN e.event_type = 'purchase' AND c.c_us IS NOT NULL
      |                   AND e.us > c.c_us
      |                   AND e.us <= c.s_us + 3600000000 THEN e.us END)
      |         AS BIGINT) AS p_us
      |  FROM ev e JOIN c ON e.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT count(*) AS n_signup,
      |  CAST(sum(CASE WHEN c_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_click_1h,
      |  CAST(sum(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_purchase_1h,
      |  (1000000 * CAST(sum(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END)
      |             AS BIGINT)) // count(*) AS conv_fx
      |FROM p""".stripMargin

  /** D77: prefix-tree hierarchy rollup — customer spend rolled to
    * every ancestor in the decimal-prefix tree (node = custkey div
    * 10^level, levels 0-3): the drill-up view a reporting layer
    * serves (D24's grouping sets enumerate column combinations;
    * this walks a DEPTH hierarchy on one key).
    *
    * Scale shape: per-customer compaction first, then a 4-way level
    * explode of the CUSTOMER-sized table (never the fact table) into
    * one map-side-combined rollup.
    */
  def qPrefixRollup(t: Tables): DataFrame = {
    val perCust = t.orders
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    perCust
      .select(col("o_custkey"), col("n_orders"), col("cents"),
        explode(typedLit(Seq(0, 1, 2, 3))).as("level"))
      .select(col("level").cast("long").as("level"),
        expr("o_custkey div CAST(pow(10, level) AS BIGINT)").as("node"),
        col("n_orders"), col("cents"))
      .groupBy(col("level"), col("node"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("n_orders")).as("n_orders"),
        sum(col("cents")).as("cents"))
  }

  val qPrefixRollupSql: String =
    """WITH pc AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |lv AS (
      |  SELECT o_custkey, n_orders, cents,
      |    CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS level
      |  FROM pc)
      |SELECT level, o_custkey // CAST(pow(10, level) AS BIGINT) AS node,
      |  count(*) AS n_customers,
      |  CAST(sum(n_orders) AS BIGINT) AS n_orders,
      |  CAST(sum(cents) AS BIGINT) AS cents
      |FROM lv GROUP BY 1, 2""".stripMargin

  /** F11: MMR (maximal marginal relevance) diversified re-ranking —
    * greedy top-3 from each query's top-8 cosine candidates with
    * λ=0.7: score = 0.7·relevance − 0.3·max-similarity-to-already-
    * selected. The search-serving step after F1's plain top-k: plain
    * top-k returns near-duplicates of each other; MMR trades a
    * little relevance for coverage. The greedy recurrence is
    * unrolled to its three steps (the D44/D70 fixed-iteration
    * pattern), every similarity is rounded at 4 dp BEFORE any
    * comparison, and ties break on vec_id — so both engines replay
    * the selection bit-identically.
    *
    * Scale shape: the candidate set is rank-window-bounded to 8 per
    * query before any pairwise work, so the within-candidate
    * similarity matrix is 8×8 per query — constant — and every
    * exchange after the scored scan moves query×8-bounded rows.
    */
  def simMmr(t: Tables): DataFrame = {
    val emb = t.embeddings
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(graft.functions.CosineSim(a, b), 4)
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand_id").asc)
    val cands = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("embedding").as("cv"), cos(col("embedding"), col("qv")).as("rel"))
      .withColumn("crank", row_number().over(rankW))
      .filter(col("crank") <= 8)
      .localCheckpoint(true)
    // 8×8-bounded pairwise similarity between candidates per query
    val sims = cands.as("a")
      .join(cands.as("b"), col("a.query_id") === col("b.query_id") &&
        col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.query_id").as("query_id"), col("a.cand_id").as("cand_id"),
        col("b.cand_id").as("other_id"), cos(col("a.cv"), col("b.cv")).as("sim"))
      .localCheckpoint(true)
    val base = cands.select(col("query_id"), col("cand_id"), col("rel"))
    def argmax(df: DataFrame, score: org.apache.spark.sql.Column): DataFrame = {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(score.desc, col("cand_id").asc)
      df.withColumn("pk", row_number().over(w)).filter(col("pk") === 1)
        .select(col("query_id"), col("cand_id"), score.as("mmr"))
    }
    val sel1 = argmax(base, col("rel"))
    // remaining after sel1
    val rem1 = base.join(sel1.select(col("query_id"), col("cand_id").as("s1")),
      Seq("query_id")).filter(col("cand_id") =!= col("s1"))
    val scored2 = rem1.join(sims,
      sims("query_id") === rem1("query_id") &&
        sims("cand_id") === rem1("cand_id") && sims("other_id") === rem1("s1"))
      .select(rem1("query_id"), rem1("cand_id"), rem1("rel"),
        col("sim").as("maxsim"))
      .withColumn("sc", round(lit(0.7) * col("rel") - lit(0.3) * col("maxsim"), 4))
    val sel2 = argmax(scored2, col("sc"))
    val rem2 = rem1.join(sel2.select(col("query_id"), col("cand_id").as("s2")),
      Seq("query_id")).filter(col("cand_id") =!= col("s2"))
    val scored3 = rem2.join(sims.as("s"),
      col("s.query_id") === rem2("query_id") &&
        col("s.cand_id") === rem2("cand_id") &&
        (col("s.other_id") === rem2("s1") || col("s.other_id") === rem2("s2")))
      .groupBy(rem2("query_id"), rem2("cand_id"), rem2("rel"))
      .agg(max(col("s.sim")).as("maxsim"))
      .withColumn("sc", round(lit(0.7) * col("rel") - lit(0.3) * col("maxsim"), 4))
    val sel3 = argmax(scored3, col("sc"))
    sel1.withColumn("rank", lit(1L))
      .unionByName(sel2.withColumn("rank", lit(2L)))
      .unionByName(sel3.withColumn("rank", lit(3L)))
      .select(col("query_id"), col("rank"), col("cand_id"), col("mmr"))
  }

  val simMmrSql: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      |  WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, b.vec_id AS cand_id, b.embedding AS cv,
      |    round(
      |      list_sum(list_transform(list_zip(b.embedding, q.qv),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(b.embedding,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(q.qv,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS rel
      |  FROM embeddings b, q WHERE b.vec_id != q.query_id),
      |cands AS (
      |  SELECT query_id, cand_id, cv, rel FROM (
      |    SELECT query_id, cand_id, cv, rel,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY rel DESC, cand_id) AS crank
      |    FROM scored) x WHERE crank <= 8),
      |sims AS (
      |  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
      |    round(
      |      list_sum(list_transform(list_zip(a.cv, b.cv),
      |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(a.cv,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |       * sqrt(list_sum(list_transform(b.cv,
      |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
      |  FROM cands a JOIN cands b
      |    ON a.query_id = b.query_id AND a.cand_id != b.cand_id),
      |sel1 AS (
      |  SELECT query_id, cand_id, rel AS mmr FROM (
      |    SELECT query_id, cand_id, rel,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY rel DESC, cand_id) AS pk
      |    FROM cands) x WHERE pk = 1),
      |rem1 AS (
      |  SELECT c.query_id, c.cand_id, c.rel, s.cand_id AS s1
      |  FROM cands c JOIN sel1 s ON c.query_id = s.query_id
      |  WHERE c.cand_id != s.cand_id),
      |sc2 AS (
      |  SELECT r.query_id, r.cand_id, r.rel, r.s1,
      |    round(0.7 * r.rel - 0.3 * m.sim, 4) AS sc
      |  FROM rem1 r JOIN sims m
      |    ON m.query_id = r.query_id AND m.cand_id = r.cand_id
      |   AND m.other_id = r.s1),
      |sel2 AS (
      |  SELECT query_id, cand_id, sc AS mmr FROM (
      |    SELECT query_id, cand_id, sc,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY sc DESC, cand_id) AS pk
      |    FROM sc2) x WHERE pk = 1),
      |rem2 AS (
      |  SELECT r.query_id, r.cand_id, r.rel, r.s1, s.cand_id AS s2
      |  FROM rem1 r JOIN sel2 s ON r.query_id = s.query_id
      |  WHERE r.cand_id != s.cand_id),
      |sc3 AS (
      |  SELECT r.query_id, r.cand_id, r.rel,
      |    round(0.7 * r.rel - 0.3 * max(m.sim), 4) AS sc
      |  FROM rem2 r JOIN sims m
      |    ON m.query_id = r.query_id AND m.cand_id = r.cand_id
      |   AND (m.other_id = r.s1 OR m.other_id = r.s2)
      |  GROUP BY 1, 2, 3),
      |sel3 AS (
      |  SELECT query_id, cand_id, sc AS mmr FROM (
      |    SELECT query_id, cand_id, sc,
      |      row_number() OVER (PARTITION BY query_id
      |                         ORDER BY sc DESC, cand_id) AS pk
      |    FROM sc3) x WHERE pk = 1)
      |SELECT query_id, CAST(1 AS BIGINT) AS rank, cand_id, mmr FROM sel1
      |UNION ALL
      |SELECT query_id, CAST(2 AS BIGINT) AS rank, cand_id, mmr FROM sel2
      |UNION ALL
      |SELECT query_id, CAST(3 AS BIGINT) AS rank, cand_id, mmr FROM sel3""".stripMargin
}
