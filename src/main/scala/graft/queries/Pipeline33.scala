package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 33: absorbing-Markov conversion
  * probability (bounded matrix powers in exact ppm fixed point).
  */
object Pipeline33 {

  /** D86: probability of converting (reaching the absorbing
    * `purchase` state) within ≤ 1, ≤ 2, and ≤ 3 transitions from
    * each event type, in exact ppm fixed point — the FORWARD
    * question D75's transition matrix only parameterizes (D79
    * distributes credit backward from observed conversions; this
    * predicts forward from the chain itself, the removal-effect /
    * journey-simulation primitive of Markov attribution). Each step
    * is one relational matrix–vector multiply against the empirical
    * transition counts with `purchase` absorbing at 10⁶:
    * p₁[s] = 10⁶·cnt(s→P) div tot(s),
    * pₖ[s] = Σ_d cnt(s→d)·(d = P ? 10⁶ : pₖ₋₁[d]) div tot(s) —
    * floor division at every step, so the chain is integer-exact
    * and partitioning-invariant (ppm convention of D79).
    *
    * Scale shape: the event log collapses to the type×type count
    * matrix ONCE (one user-keyed window pass + one map-side-combined
    * agg, the D75 plan); every matrix power then runs over the
    * type-vocabulary-bounded counts with the pₖ vector broadcast —
    * at 100 TB the iteration cost is independent of corpus size.
    */
  def qMarkovAbsorption(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = t.events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src_type"))
      .withColumn("dst_type", lead(col("src_type"), 1).over(w))
      .filter(col("dst_type").isNotNull)
      .groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val tot = counts.groupBy(col("src_type")).agg(sum(col("cnt")).as("tot"))
    def step(prev: Option[DataFrame]): DataFrame = {
      val pd: Column = prev match {
        case None => when(col("dst_type") === lit("purchase"), lit(1000000L)).otherwise(lit(0L))
        case Some(_) => when(col("dst_type") === lit("purchase"), lit(1000000L))
          .otherwise(coalesce(col("pd"), lit(0L)))
      }
      val joined = prev match {
        case None => counts
        case Some(p) => counts.join(
          broadcast(p.select(col("state").as("dst_type"), col("p").as("pd"))),
          Seq("dst_type"), "left")
      }
      joined.withColumn("pdv", pd)
        .groupBy(col("src_type"))
        .agg(sum(col("cnt") * col("pdv")).as("num"))
        .join(broadcast(tot), Seq("src_type"))
        .select(col("src_type").as("state"), expr("num div tot").as("p"))
    }
    val p1 = step(None).localCheckpoint(true)
    val p2 = step(Some(p1)).localCheckpoint(true)
    val p3 = step(Some(p2))
    p1.select(col("state").as("src_type"), col("p").as("p1_ppm"))
      .join(p2.select(col("state").as("src_type"), col("p").as("p2_ppm")), Seq("src_type"))
      .join(p3.select(col("state").as("src_type"), col("p").as("p3_ppm")), Seq("src_type"))
  }

  val qMarkovAbsorptionSql: String =
    """WITH pr AS (
      |  SELECT event_type AS src_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS dst_type
      |  FROM events),
      |c AS (SELECT src_type, dst_type, count(*) AS cnt
      |      FROM pr WHERE dst_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT src_type, sum(cnt) AS tot FROM c GROUP BY 1),
      |p1 AS (
      |  SELECT c.src_type AS state,
      |    CAST(sum(c.cnt * (CASE WHEN c.dst_type = 'purchase'
      |                           THEN 1000000 ELSE 0 END)) // t.tot AS BIGINT) AS p
      |  FROM c JOIN t ON t.src_type = c.src_type
      |  GROUP BY c.src_type, t.tot),
      |p2 AS (
      |  SELECT c.src_type AS state,
      |    CAST(sum(c.cnt * (CASE WHEN c.dst_type = 'purchase'
      |                           THEN 1000000 ELSE COALESCE(x.p, 0) END))
      |         // t.tot AS BIGINT) AS p
      |  FROM c JOIN t ON t.src_type = c.src_type
      |  LEFT JOIN p1 x ON x.state = c.dst_type
      |  GROUP BY c.src_type, t.tot),
      |p3 AS (
      |  SELECT c.src_type AS state,
      |    CAST(sum(c.cnt * (CASE WHEN c.dst_type = 'purchase'
      |                           THEN 1000000 ELSE COALESCE(x.p, 0) END))
      |         // t.tot AS BIGINT) AS p
      |  FROM c JOIN t ON t.src_type = c.src_type
      |  LEFT JOIN p2 x ON x.state = c.dst_type
      |  GROUP BY c.src_type, t.tot)
      |SELECT p1.state AS src_type, p1.p AS p1_ppm, p2.p AS p2_ppm, p3.p AS p3_ppm
      |FROM p1 JOIN p2 ON p2.state = p1.state JOIN p3 ON p3.state = p1.state""".stripMargin
}
