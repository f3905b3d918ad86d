package graft.queries

import graft.Tables
import graft.operators.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 9: sliding-window distinct counting,
  * association-rule mining, and two deterministic sampling surfaces
  * (global reservoir-k, per-class balancing). Integer-exact
  * everywhere; every row has a DuckDB oracle.
  */
object Pipeline12 {

  /** D50: trailing-7-day DISTINCT users per (event_type, day) — the
    * sliding-distinct capability class, which windowed `sum` cannot
    * express (distinct does not decompose over overlapping frames).
    * Scale shape: dedup to (type, day, user) FIRST (one corpus
    * shuffle, the row count collapses to active-user-days), then
    * each surviving triple fans out to the ≤7 windows it serves
    * (bounded ×7, map-side) and a count-distinct per (type, day)
    * closes it. Never a per-day rescan of raw events, never a
    * collect_set over raw rows.
    */
  def qWindowDistinct(t: Tables): DataFrame = {
    val du = t.events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        col("user_id"))
      .distinct()
    val days = du.select(col("event_type"), col("d")).distinct()
    val fanned = du.select(col("event_type"), col("user_id"),
      explode(expr("sequence(d, d + 6)")).as("td"))
    fanned
      .join(days.withColumnRenamed("d", "td"), Seq("event_type", "td"))
      .groupBy(col("event_type"), col("td").as("epoch_day"))
      .agg(countDistinct(col("user_id")).as("u7"))
  }

  val qWindowDistinctSql: String =
    """WITH du AS (
      |  SELECT DISTINCT event_type,
      |    epoch_us(ts) // 86400000000 AS d, user_id
      |  FROM events),
      |days AS (SELECT DISTINCT event_type, d FROM du),
      |fanned AS (
      |  SELECT event_type, user_id, unnest(range(d, d + 7)) AS td FROM du)
      |SELECT f.event_type, f.td AS epoch_day,
      |  count(DISTINCT f.user_id) AS u7
      |FROM fanned f JOIN days ON days.event_type = f.event_type AND days.d = f.td
      |GROUP BY 1, 2""".stripMargin

  /** D51: association rules over per-user event-type baskets —
    * support / confidence / lift for every ordered type pair, as
    * exact ×10⁶ integer ratios (lift's N·supp_ab product uses
    * DECIMAL(38)/HUGEINT). Baskets dedup to (user, type) first;
    * the pair self-join fans out only within a user's basket
    * (bounded by the type vocabulary, not the event count), and
    * everything after the pair agg is vocabulary²-bounded.
    */
  def qAssocRules(t: Tables): DataFrame = {
    // One user-keyed agg builds the basket ARRAYS (bounded by the
    // type vocabulary, with map-side partial dedup); pair fanout is
    // then a map-side array expression — no basket self-join, no
    // second corpus shuffle on user_id.
    val sets = t.events
      .groupBy(col("user_id"))
      .agg(collect_set(col("event_type")).as("types"))
      .localCheckpoint(true)
    // 1-row total stays IN-PLAN (broadcast), not a driver count().
    val nUsers = sets.agg(count(lit(1)).as("nu"))
    val typeSupp = sets
      .select(explode(col("types")).as("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("supp"))
    val pairs = sets
      .select(explode(expr(
        """flatten(transform(types, a ->
           |  transform(filter(types, b -> b != a),
           |            b -> named_struct('ante', a, 'cons', b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.ante").as("ante"), col("p.cons").as("cons"))
      .agg(count(lit(1)).as("supp_ab"))
    pairs
      .join(broadcast(typeSupp.select(col("event_type").as("ante"), col("supp").as("supp_a"))), Seq("ante"))
      .join(broadcast(typeSupp.select(col("event_type").as("cons"), col("supp").as("supp_b"))), Seq("cons"))
      .crossJoin(broadcast(nUsers))
      .select(col("ante"), col("cons"), col("supp_ab"),
        expr("(supp_ab * 1000000) div supp_a").as("conf_fx"),
        expr("""CAST((CAST(supp_ab AS DECIMAL(38,0)) * nu * 1000000)
                 div (CAST(supp_a AS DECIMAL(38,0)) * supp_b) AS BIGINT)""")
          .as("lift_fx"))
  }

  val qAssocRulesSql: String =
    """WITH baskets AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT count(DISTINCT user_id) AS nu FROM baskets),
      |ts AS (SELECT event_type, count(*) AS supp FROM baskets GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS ante, b.event_type AS cons, count(*) AS supp_ab
      |  FROM baskets a JOIN baskets b
      |    ON a.user_id = b.user_id AND a.event_type != b.event_type
      |  GROUP BY 1, 2)
      |SELECT ante, cons, supp_ab,
      |  (supp_ab * 1000000) // sa.supp AS conf_fx,
      |  CAST((CAST(supp_ab AS HUGEINT) * n.nu * 1000000)
      |       // (CAST(sa.supp AS HUGEINT) * sb.supp) AS BIGINT) AS lift_fx
      |FROM pairs
      |JOIN ts sa ON sa.event_type = ante
      |JOIN ts sb ON sb.event_type = cons
      |CROSS JOIN n""".stripMargin

  /** N14: deterministic reservoir-k — a FIXED-size uniform sample
    * (k=100) whatever the corpus size, the complement of N2's
    * fixed-RATE stratified sample: rank every doc by the shared LCG
    * mix and keep the k smallest (ties by id). Runs as
    * TakeOrderedAndProject — per-partition k-heaps, then one k-row
    * merge on the driver side of the exchange; no global sort, no
    * full shuffle, the canonical distributed-reservoir plan.
    */
  def smReservoir(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("lang"),
        Sampling.idBucket(col("doc_id"), 1000000).as("pri"))
      .orderBy(col("pri"), col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("lang"))

  val smReservoirSql: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang,
      |    (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 1000000 AS pri
      |  FROM documents)
      |ORDER BY pri, doc_id LIMIT 100""".stripMargin

  /** N15: per-class balancing (undersample to the minority class) —
    * every `label` keeps exactly min-class-count vectors, chosen by
    * the deterministic LCG priority (ties by id): the
    * class-imbalance corrective a labeled-corpus curation pass
    * applies before training. One class-histogram agg (broadcast as
    * a 1-row min) + one per-class rank window; no sampling
    * randomness to drift between runs or engines.
    */
  def smClassBalance(t: Tables): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("label"))
    val minCnt = e.groupBy(col("label")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("min_c"))
    val ranked = e
      .withColumn("pri", Sampling.idBucket(col("vec_id"), 1000000))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("label")).orderBy(col("pri"), col("vec_id"))))
    ranked.crossJoin(broadcast(minCnt))
      .filter(col("rk") <= col("min_c"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_kept"), min(col("vec_id")).as("first_vec"),
        max(col("vec_id")).as("last_vec"))
  }

  val smClassBalanceSql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    (((vec_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 1000000 AS pri
      |  FROM embeddings),
      |mc AS (SELECT min(c) AS min_c FROM
      |        (SELECT label, count(*) AS c FROM e GROUP BY 1)),
      |rk AS (
      |  SELECT vec_id, label,
      |    row_number() OVER (PARTITION BY label ORDER BY pri, vec_id) AS rk
      |  FROM e)
      |SELECT label, count(*) AS n_kept,
      |  min(vec_id) AS first_vec, max(vec_id) AS last_vec
      |FROM rk CROSS JOIN mc
      |WHERE rk <= min_c
      |GROUP BY label""".stripMargin
}
