package graft.queries

import graft.Tables
import graft.operators.{Dedup, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 10: codec round-trip source path, A/B
  * lift, day-over-day lag ratios, multi-key entity linking (star
  * edges + CC), and the corpus-hapax quality signal.
  */
object Pipeline13 {

  /** A18: compression-codec round-trip — write a projected lineitem
    * slice as ZSTD parquet (the 100 TB wire format decision: zstd
    * ≈ gzip ratios at snappy-class decode speed) into a scratch
    * dir, read it back, aggregate. The oracle aggregates the
    * ORIGINAL table, so the row is green only if the codec path is
    * lossless end-to-end. Staged once per (session, dir) in
    * [[graft.util.SessionStage]].
    */
  def srcCodecRoundtrip(t: Tables): DataFrame = {
    val stage = codecStage(t)
    Tables.parquet(t.spark, stage.toString)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty_cents"))
  }

  private def codecStage(t: Tables): java.nio.file.Path =
    graft.util.SessionStage.dir(t, "codec") { stage =>
      t.lineitem
        .select(col("l_returnflag"), col("l_quantity"))
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(stage.resolve("li").toString)
    }.resolve("li")

  val srcCodecRoundtripSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      |FROM lineitem GROUP BY 1""".stripMargin

  /** D52: A/B experiment lift — users split into arms by LCG-mix
    * parity (deterministic, covariate-independent), per-type arm
    * means over exact ×10⁴ cents, lift = (mean_B − mean_A)/mean_A
    * as a ×10⁶ ratio via the cross-multiplied integer form
    * (sum_b·n_a − sum_a·n_b)·10⁶ / (sum_a·n_b) — no floating
    * division anywhere. One corpus agg; DECIMAL(38)/HUGEINT for the
    * cross products.
    */
  def qAbLift(t: Tables): DataFrame = {
    val armed = t.events.select(
      col("event_type"),
      pmod(Sampling.idBucket(col("user_id"), 1000000), lit(2)).as("arm"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
    armed
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("arm") === 0, col("v_fx"))).as("sum_a"),
        sum(when(col("arm") === 1, col("v_fx"))).as("sum_b"),
        count(when(col("arm") === 0, lit(1))).as("n_a"),
        count(when(col("arm") === 1, lit(1))).as("n_b"))
      .filter(col("n_a") > 0 && col("n_b") > 0 && col("sum_a") =!= 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        expr("""CAST(((CAST(sum_b AS DECIMAL(38,0)) * n_a - CAST(sum_a AS DECIMAL(38,0)) * n_b) * 1000000)
                div (CAST(sum_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
          .as("lift_fx"))
  }

  val qAbLiftSql: String =
    """WITH armed AS (
      |  SELECT event_type,
      |    ((((user_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 1000000) % 2 AS arm,
      |    CAST(round(value * 10000) AS BIGINT) AS v_fx
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN arm = 0 THEN v_fx END) AS BIGINT) AS sum_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN v_fx END) AS BIGINT) AS sum_b,
      |    count(CASE WHEN arm = 0 THEN 1 END) AS n_a,
      |    count(CASE WHEN arm = 1 THEN 1 END) AS n_b
      |  FROM armed GROUP BY 1)
      |SELECT event_type, n_a, n_b,
      |  CAST(((CAST(sum_b AS HUGEINT) * n_a - CAST(sum_a AS HUGEINT) * n_b) * 1000000)
      |       // (CAST(sum_a AS HUGEINT) * n_b) AS BIGINT) AS lift_fx
      |FROM g
      |WHERE n_a > 0 AND n_b > 0 AND sum_a != 0""".stripMargin

  /** D53: day-over-day change ratio per event type — lag-window
    * analytics over the day-bounded daily series (the windowed
    * input is ~365·n_types rows at ANY corpus scale); ratio as the
    * exact integer (today−yesterday)·10⁶ / yesterday, only for
    * CONSECUTIVE days (gaps emit no row — a lag over missing days
    * would silently compare across the gap).
    */
  def qLagRatio(t: Tables): DataFrame = {
    val daily = t.events.select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"),
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("v_fx")).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    daily
      .withColumn("prev_d", lag(col("d"), 1).over(w))
      .withColumn("prev_x", lag(col("x"), 1).over(w))
      .filter(col("prev_d") === col("d") - 1 && col("prev_x") =!= 0)
      .select(col("event_type"), col("d").as("epoch_day"),
        expr("((x - prev_x) * 1000000) div prev_x").as("dod_fx"))
  }

  val qLagRatioSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
      |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT event_type, d, x,
      |    lag(d) OVER (PARTITION BY event_type ORDER BY d) AS prev_d,
      |    lag(x) OVER (PARTITION BY event_type ORDER BY d) AS prev_x
      |  FROM daily)
      |SELECT event_type, d AS epoch_day,
      |  ((x - prev_x) * 1000000) // prev_x AS dod_fx
      |FROM lagged
      |WHERE prev_d = d - 1 AND prev_x != 0""".stripMargin

  /** E23: multi-key entity linking — docs link when they share
    * EITHER the normalized-text hash (E5's key) OR the
    * first-16-token fingerprint; components via large/small-star
    * CC. The scale move: per key value emit STAR edges
    * (doc → min-doc of the key group) instead of within-group
    * pairs — linear in group size where pairwise is quadratic,
    * with identical connectivity. Two key aggs + CC on
    * star-edge-sized input.
    */
  def ddMultikeyEr(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"),
      sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256).as("k1"),
      sha2(expr("array_join(slice(split(lower(trim(text)), '\\\\s+'), 1, 16), ' ')"), 256)
        .as("k2"))
    def starEdges(keyed: DataFrame, key: String) = keyed
      .withColumn("m", min(col("doc_id")).over(Window.partitionBy(col(key))))
      .filter(col("doc_id") =!= col("m"))
      .select(col("doc_id").as("a"), col("m").as("b"))
    val edges = starEdges(docs.select(col("doc_id"), col("k1")), "k1")
      .unionAll(starEdges(docs.select(col("doc_id"), col("k2")), "k2"))
    Dedup.connectedComponents(edges, "a", "b")
  }

  val ddMultikeyErSql: String =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id,
      |    sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k1,
      |    sha256(array_to_string(
      |      (regexp_split_to_array(lower(trim(text)), '\s+'))[1:16], ' ')) AS k2
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k1) AS b FROM docs),
      |s2 AS (
      |  SELECT doc_id AS a, min(doc_id) OVER (PARTITION BY k2) AS b FROM docs),
      |se AS (
      |  SELECT a, b FROM s1 WHERE a != b
      |  UNION SELECT a, b FROM s2 WHERE a != b),
      |edges AS (SELECT a, b FROM se UNION SELECT b, a FROM se),
      |reach(a, b) AS (SELECT a, b FROM edges
      |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      |SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a""".stripMargin

  /** G28: rare-token mass per document — the share of a doc's token
    * occurrences drawn from the bottom QUARTILE of the corpus
    * type-frequency distribution (rank-defined: the ⌈V/4⌉ types
    * with the smallest (count, token) — exact and total-ordered, so
    * no percentile-interpolation semantics to diverge on). High
    * rare-mass flags noise/mangled text, near-zero flags templated
    * text — the frequency-profile quality signal that works on ANY
    * vocabulary shape (a hapax-based variant is degenerate here:
    * the synthetic corpus' closed vocab has zero hapax at every
    * sf). One corpus token shuffle; the rare-type table is
    * vocab-bounded and broadcast back.
    */
  def txRareTokens(t: Tables): DataFrame = {
    val toks = t.documents.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val types = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // Quartile membership via the range-partitioned exact ntile
    // (GlobalRank — no single-task global window even at web-scale
    // vocabularies); ntile bucket 1 is exactly rank ≤ ⌈V/4⌉ under
    // the same (count, token) total order the oracle states.
    val ranked = graft.operators.GlobalRank
      .ntileExact(types, Seq(col("c"), col("tok")), 4, "qt")
      .filter(col("qt") === 1)
      .select(col("tok"))
    toks
      .join(broadcast(ranked.withColumn("is_rare", lit(1L))), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(col("is_rare")), lit(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        expr("(n_rare * 1000000) div n_tokens").as("rare_fx"))
  }

  val txRareTokensSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |types AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
      |ranked AS (
      |  SELECT tok,
      |    row_number() OVER (ORDER BY c, tok) AS rk,
      |    count(*) OVER () AS v
      |  FROM types),
      |rare AS (SELECT tok FROM ranked WHERE rk <= CAST(ceil(v / 4.0) AS BIGINT))
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN rare.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  (CAST(sum(CASE WHEN rare.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
      |    // count(*) AS rare_fx
      |FROM toks LEFT JOIN rare ON toks.tok = rare.tok
      |GROUP BY doc_id""".stripMargin
}
