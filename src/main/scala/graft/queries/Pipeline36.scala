package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 31: clustering-quality silhouette and
  * Markov removal-effect attribution.
  */
object Pipeline36 {

  /** F17: simplified silhouette over the F5 k-means assignment —
    * the clustering quality gauge (how separated are the clusters a
    * SemDeDup/IVF blocking run rides on): per vector
    * s = (cos₁ − cos₂)/(1 − cos₂) against best/second-best
    * centroids, per-cluster exact ppm mean. See
    * [[Similarity.silhouette]] for the map-side plan shape (the
    * score array is already on every assigned row; no explode, no
    * per-vector window — the only exchange is the k-row aggregate).
    */
  def simSilhouette(t: Tables): DataFrame =
    Similarity.silhouette(t.embeddings, "vec_id", "embedding",
      k = 4, iters = 2)

  val simSilhouetteSql: String =
    s"""WITH ${LlmQueries.kmeansCtesForOracle(4)},
       |best AS (
       |  SELECT vec_id, cluster, score AS s1 FROM a2 WHERE rk = 1),
       |second AS (
       |  SELECT vec_id, score AS s2 FROM a2 WHERE rk = 2),
       |s AS (
       |  SELECT b.cluster,
       |    CASE WHEN sec.s2 IS NULL OR 1.0 - sec.s2 = 0.0 THEN 0
       |         ELSE CAST(round((b.s1 - sec.s2) / (1.0 - sec.s2) * 1000000)
       |                   AS BIGINT) END AS sfx
       |  FROM best b LEFT JOIN second sec ON sec.vec_id = b.vec_id)
       |SELECT cluster, count(*) AS n_vectors,
       |  CAST(sum(sfx) // count(*) AS BIGINT) AS mean_sil_ppm
       |FROM s GROUP BY 1""".stripMargin

  private val channels = Seq("click", "error", "signup", "view")

  /** D93: Markov removal-effect attribution — the data-driven
    * multi-touch model (Anderl et al.): each channel's credit is how
    * much total conversion reach DROPS when journeys can no longer
    * pass through it. Completes the attribution trio: D32/D79 are
    * positional heuristics, D86 predicts forward — this one answers
    * "what is channel c actually worth".
    *
    * Model (all exact ppm integers, D86's floor-division fixed
    * point): reach = Σ_s start_share(s)·p₃(s), where p₃ is the ≤3-
    * step absorption probability into `purchase` and start_share is
    * the distribution of each user's FIRST event type; removing
    * channel c zeroes every transition INTO c (and starts at c) in
    * the p-chain — p₁ is removal-invariant and shared across all
    * four removed chains.
    *
    * Scale shape: the corpus collapses ONCE to the type×type count
    * matrix + per-user first-touch compacts (one window pass, two
    * map-side-combined aggs); every one of the 11 matrix-vector
    * steps then runs on the type-vocabulary-bounded counts with the
    * p-vectors broadcast — the 4-channel removal sweep costs
    * iteration count, not corpus passes. At 100 TB: identical.
    */
  def qMarkovRemoval(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = t.events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("src_type"))
      .withColumn("dst_type", lead(col("src_type"), 1).over(w))
    val counts = base
      .filter(col("dst_type").isNotNull)
      .groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val tot = counts.groupBy(col("src_type")).agg(sum(col("cnt")).as("tot"))
      .localCheckpoint(true)
    val starts = t.events
      .groupBy(col("user_id"))
      .agg(min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("n_start"))
      .localCheckpoint(true)
    val totUsers = starts.agg(sum(col("n_start")).as("u"))

    /** One matrix-vector step; `removed` zeroes transitions into
      * that channel. prev=None means the p₁ base case.
      */
    def step(prev: Option[DataFrame], removed: Option[String]): DataFrame = {
      val joined = prev match {
        case None => counts
        case Some(p) => counts.join(
          broadcast(p.select(col("state").as("dst_type"), col("p").as("pd"))),
          Seq("dst_type"), "left")
      }
      val pd: Column = {
        val absorb = when(col("dst_type") === lit("purchase"), lit(1000000L))
        val tail = prev match {
          case None => lit(0L)
          case Some(_) => coalesce(col("pd"), lit(0L))
        }
        removed match {
          case Some(c) => absorb.otherwise(
            when(col("dst_type") === lit(c), lit(0L)).otherwise(tail))
          case None => absorb.otherwise(tail)
        }
      }
      // No checkpoint here (r13): every p-vector except p1 has exactly
      // ONE consumer, so an eager barrier per matrix-vector step paid
      // 10 extra jobs per run for nothing — the vectors are
      // type-vocabulary-bounded (≤ n_types rows) at ANY corpus scale,
      // and the chain above them reads only the checkpointed counts.
      // p1 (5 consumers) is checkpointed at its definition below.
      joined.withColumn("pdv", pd)
        .groupBy(col("src_type"))
        .agg(sum(col("cnt") * col("pdv")).as("num"))
        .join(broadcast(tot), Seq("src_type"))
        .select(col("src_type").as("state"), expr("num div tot").as("p"))
    }

    /** start-weighted reach (ppm) of a p₃ vector, with starts at
      * `removed` contributing zero.
      */
    def reach(p3: DataFrame, removed: Option[String]): DataFrame = {
      val st = removed match {
        case Some(c) => starts.filter(col("s") =!= lit(c))
        case None => starts
      }
      st.join(broadcast(p3.select(col("state").as("s"), col("p"))), Seq("s"), "left")
        .select((col("n_start") * coalesce(col("p"), lit(0L))).as("w"))
        .agg(sum(col("w")).as("num"))
        .crossJoin(broadcast(totUsers))
        .select(expr("num div u").as("reach_ppm"))
    }

    // removal-invariant: purchase-only terms; read by the full chain
    // AND all four removal chains — the one p-vector worth a barrier
    val p1 = step(None, None).localCheckpoint(true)
    val p2Full = step(Some(p1), None)
    val p3Full = step(Some(p2Full), None)
    // read by all four removal branches' outputs
    val full = reach(p3Full, None).localCheckpoint(true)

    val rows = channels.map { c =>
      val p2c = step(Some(p1), Some(c))
      val p3c = step(Some(p2c), Some(c))
      reach(p3c, Some(c))
        .crossJoin(broadcast(full.select(col("reach_ppm").as("reach_full_ppm"))))
        .select(lit(c).as("channel"), col("reach_full_ppm"),
          col("reach_ppm").as("reach_removed_ppm"),
          (col("reach_full_ppm") - col("reach_ppm")).as("removal_ppm"))
    }
    rows.reduce(_.unionAll(_))
  }

  val qMarkovRemovalSql: String = {
    def pStep(name: String, prev: Option[String], removed: Option[String]): String = {
      val tail = prev match {
        case None => "0"
        case Some(p) => s"COALESCE(x.p, 0)"
      }
      val zero = removed.map(c => s"WHEN c.dst_type = '$c' THEN 0 ").getOrElse("")
      val join = prev.map(p => s"LEFT JOIN $p x ON x.state = c.dst_type\n  ").getOrElse("")
      s"""$name AS (
         |  SELECT c.src_type AS state,
         |    CAST(sum(c.cnt * (CASE WHEN c.dst_type = 'purchase' THEN 1000000
         |                          $zero ELSE $tail END)) // t.tot AS BIGINT) AS p
         |  FROM c JOIN t ON t.src_type = c.src_type
         |  $join GROUP BY c.src_type, t.tot)""".stripMargin
    }
    def reachCte(name: String, p3: String, removed: Option[String]): String = {
      val excl = removed.map(c => s"WHERE st.s <> '$c' ").getOrElse("")
      s"""$name AS (
         |  SELECT CAST(sum(st.n_start * COALESCE(x.p, 0)) // any_value(u.u) AS BIGINT)
         |    AS reach_ppm
         |  FROM (SELECT * FROM starts st $excl) st
         |  LEFT JOIN $p3 x ON x.state = st.s
         |  CROSS JOIN tot_users u)""".stripMargin
    }
    val removedCtes = channels.map { c =>
      Seq(pStep(s"p2_$c", Some("p1"), Some(c)),
        pStep(s"p3_$c", Some(s"p2_$c"), Some(c)),
        reachCte(s"r_$c", s"p3_$c", Some(c))).mkString(",\n")
    }.mkString(",\n")
    val selects = channels.map { c =>
      s"""SELECT '$c' AS channel, rf.reach_ppm AS reach_full_ppm,
         |  r_$c.reach_ppm AS reach_removed_ppm,
         |  rf.reach_ppm - r_$c.reach_ppm AS removal_ppm
         |FROM r_full rf CROSS JOIN r_$c""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH pr AS (
       |  SELECT user_id, event_type AS src_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS dst_type
       |  FROM events),
       |c AS (SELECT src_type, dst_type, count(*) AS cnt
       |      FROM pr WHERE dst_type IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT src_type, sum(cnt) AS tot FROM c GROUP BY 1),
       |starts AS (
       |  SELECT s, count(*) AS n_start FROM (
       |    SELECT event_type AS s,
       |      row_number() OVER (PARTITION BY user_id
       |                         ORDER BY ts, event_id) AS rn
       |    FROM events) f
       |  WHERE rn = 1 GROUP BY 1),
       |tot_users AS (SELECT CAST(sum(n_start) AS BIGINT) AS u FROM starts),
       |${pStep("p1", None, None)},
       |${pStep("p2", Some("p1"), None)},
       |${pStep("p3", Some("p2"), None)},
       |${reachCte("r_full", "p3", None)},
       |$removedCtes
       |$selects""".stripMargin
  }
}
