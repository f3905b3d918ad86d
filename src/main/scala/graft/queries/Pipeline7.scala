package graft.queries

import graft.Tables
import graft.operators.Multimodal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-8 extension batch 4: perceptual-hash media near-dup,
  * BPE pair statistics, and key-skew diagnostics. Every entry is a
  * SURVEY §2 row with a DuckDB oracle.
  */
object Pipeline7 {

  // K7 `mm_phash_neardup` moved to Pipeline72 (round 11): the hash
  // is now the REAL DCT perceptual hash over real compressed
  // payloads, oracled against staged near-dup ground truth.

  /** G24: BPE pair statistics — the adjacent-pair frequency count at
    * the heart of a (character-level) BPE trainer's merge step, kept
    * as the top 50 pairs with a deterministic (count DESC, pair ASC)
    * tie-break. Pair generation is the native codegen'd
    * [[graft.functions.CharPairCounts]] — doc-LOCAL distinct-pair
    * counts built inside the expression, so the explode emits one
    * row per distinct pair per doc instead of one per position (the
    * HOF `transform`+`substr` formulation is CodegenFallback and
    * benched 1.77 s; per-position [[graft.functions.CharPairs]]
    * 1.56 s; this 0.42 s — all three spec-pinned equivalent). Scale
    * shape: the pair vocabulary is alphabet²-bounded, so map-side
    * combine collapses every partition to a few thousand rows
    * before the ONE tiny exchange — at 100 TB the shuffle moves
    * kilobytes.
    */
  def txBpePairStats(t: Tables): DataFrame = {
    val docs = t.documents
      .filter(length(col("text")) >= 2)
    docs
      .select(explode(graft.functions.CharPairCounts(col("text"))).as("pc"))
      .groupBy(col("pc.pair").as("pair"))
      .agg(sum(col("pc.n")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(50)
  }

  val txBpePairStatsSql: String =
    """WITH p0 AS (
      |  SELECT text, unnest(range(1, length(text))) AS pos
      |  FROM documents WHERE length(text) >= 2),
      |p AS (SELECT substring(text, CAST(pos AS INT), 2) AS pair FROM p0)
      |SELECT pair, count(*) AS n FROM p
      |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin

  /** One skew-report row over the per-key counts of `key` labeled
    * `name`. Variance comes from EXACT long sums (Σc, Σc², n) via
    * the closed-form sample-variance identity — no
    * accumulation-order-dependent float aggregation — and the two
    * quantiles are Spark's exact linear-interpolation `percentile`
    * (R-7, same rule as DuckDB's quantile_cont).
    */
  private def skewRow(df: DataFrame, name: String, key: Column): DataFrame = {
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("c"))
    counts.agg(
      lit(name).as("key_name"),
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      max(col("c")).as("max_n"),
      sum(col("c") * col("c")).as("sumsq"),
      percentile(col("c"), lit(0.5)).as("p50_raw"),
      percentile(col("c"), lit(0.99)).as("p99_raw"))
      .select(
        col("key_name"), col("n_keys"), col("n_rows"), col("max_n"),
        round(col("max_n").cast("double") / col("n_rows").cast("double"), 4).as("top1_frac"),
        round(col("p50_raw"), 4).as("p50_n"),
        round(col("p99_raw"), 4).as("p99_n"),
        round(
          sqrt((col("sumsq").cast("double")
              - col("n_rows").cast("double") * col("n_rows").cast("double")
                / col("n_keys").cast("double"))
            / (col("n_keys").cast("double") - 1.0))
            / (col("n_rows").cast("double") / col("n_keys").cast("double")),
          4).as("cv"))
  }

  /** D42: key-skew report — the diagnostic a pipeline engineer reads
    * BEFORE choosing a partition key or reaching for salting (D13)
    * or AQE skew joins: per candidate key, the cardinality, max
    * bucket, top-1 mass fraction, p50/p99 bucket sizes, and the
    * coefficient of variation. Three one-pass groupBys over
    * aggregate-sized count tables; the derived hot key (the
    * q_salted_agg device) shows up with the expected pathology while
    * the natural keys read uniform.
    */
  def qSkewReport(t: Tables): DataFrame = {
    val li = t.lineitem
    val hot = when(pmod(col("l_orderkey"), lit(3)) === 0,
      pmod(col("l_partkey"), lit(16))).otherwise(col("l_partkey"))
    skewRow(li, "l_partkey", col("l_partkey"))
      .unionAll(skewRow(li, "l_suppkey", col("l_suppkey")))
      .unionAll(skewRow(li, "hot_key", hot))
  }

  val qSkewReportSql: String = {
    def row(name: String, keyExpr: String): String =
      s"""SELECT '$name' AS key_name, count(*) AS n_keys,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  max(c) AS max_n,
         |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) + 0 AS top1_frac,
         |  round(quantile_cont(c, 0.5), 4) + 0 AS p50_n,
         |  round(quantile_cont(c, 0.99), 4) + 0 AS p99_n,
         |  round(sqrt((CAST(sum(c * c) AS DOUBLE)
         |      - CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |    / (CAST(count(*) AS DOUBLE) - 1.0))
         |    / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 4) + 0 AS cv
         |FROM (SELECT $keyExpr AS key, count(*) AS c FROM lineitem GROUP BY 1) t""".stripMargin
    row("l_partkey", "l_partkey") + "\nUNION ALL\n" +
      row("l_suppkey", "l_suppkey") + "\nUNION ALL\n" +
      row("hot_key",
        "CASE WHEN l_orderkey % 3 = 0 THEN l_partkey % 16 ELSE l_partkey END")
  }
}
