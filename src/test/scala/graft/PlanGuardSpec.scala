package graft

import graft.queries.Registry
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regression guard: no registry query may grow a window with an
  * empty partition spec (a single-task global sort at scale) beyond
  * the audited allowlist below. VERDICT r5 finding #4: the two
  * intentionally bounded sim_hybrid_rrf windows were correct by
  * design, but nothing PREVENTED a future unbounded global window
  * from landing silently — this spec does.
  */
class PlanGuardSpec extends SparkSpec {

  /** name -> (max allowed unpartitioned windows, why they're safe).
    * Every entry must cite the boundedness argument: an allowlisted
    * window's input must be limited BEFORE the window runs.
    */
  private val allow: Map[String, (Int, String)] = Map(
    "sim_hybrid_rrf" -> ((2,
      "both windows rank candidate lists already heap-limited to " +
        "<=50 rows (Pipeline3 lex/vec subtrees); constant-size at any corpus scale")),
    "tx_pmi_bigrams" -> ((1,
      "rank window runs AFTER a TakeOrderedAndProject limit(20) — " +
        "constant 20 input rows at any corpus scale")),
    "tx_rake_keywords" -> ((1,
      "rank window runs AFTER a TakeOrderedAndProject limit(20) — " +
        "constant 20 input rows at any corpus scale")),
    "q_skyline" -> ((1,
      "running-max window runs on the per-DATE compacted table — " +
        "calendar-bounded (~2.4k rows/decade) at any corpus scale")),
    "q_mann_whitney" -> ((1,
      "bucket-offset window runs on the per-$1000-BUCKET aggregate — " +
        "price-range-bounded (≤ max_price/1000 ≈ 500 rows) at any corpus scale")),
    "q_kaplan_meier" -> ((1,
      "at-risk cumulative window runs on the interval-delta day table — " +
        "calendar-bounded (≤ 2·days rows) at any corpus scale")),
    "q_ccf" -> ((1,
      "lead/lag window runs on the day-aligned click×view series — " +
        "calendar-bounded (one row per day) at any corpus scale")),
    "q_log_rank" -> ((2,
      "per-arm at-risk cumulative windows run on the interval-delta " +
        "day table — calendar-bounded (≤ 2·days rows) at any corpus " +
        "scale (the Kaplan-Meier idiom with an arm column)")),
    "q_lorenz" -> ((1,
      "cumulative-share window runs on the 10-row decile aggregate — " +
        "constant-size at any corpus scale (customer tiling is the " +
        "range-partitioned GlobalRank.ntileExact, not a window)")),
    "q_decile_lift" -> ((1,
      "cumulative-lift window runs on the 10-row decile aggregate — " +
        "constant-size at any corpus scale (customer tiling is the " +
        "range-partitioned GlobalRank.ntileExact, not a window)")),
    "sm_time_split" -> ((1,
      "boundary-day cumulative window runs on the per-DAY histogram — " +
        "calendar-bounded at any corpus scale")),
    "q_sprt" -> ((1,
      "cumulative-LLR window runs on the per-DAY arm-B trial table — " +
        "calendar-bounded at any corpus scale")),
    "q_uplift_qini" -> ((1,
      "cumulative-Qini window runs on the 10-row decile aggregate — " +
        "constant-size at any corpus scale (user tiling is the " +
        "range-partitioned GlobalRank.ntileExact, not a window)")),
    "q_runs_test" -> ((2,
      "median-rank and lag windows run on the per-DAY mean table — " +
        "calendar-bounded (~31 rows) at any corpus scale")),
    "q_abc" -> ((1,
      "cumulative-revenue window runs on the checkpointed 100-row " +
        "percentile aggregate — constant-size at any corpus scale " +
        "(part tiling is GlobalRank.ntileExact, not a window)")),
    "q_kruskal_wallis" -> ((1,
      "cumulative-rank window runs on the per-CENT compacted value " +
        "table — value-range-bounded (≤ ~56k rows) at any corpus scale " +
        "(the D67 Mann–Whitney boundedness argument)")),
    "q_bh_fdr" -> ((1,
      "p-rank window runs on the k-row per-type p-value family — " +
        "type-vocabulary-bounded at any corpus scale (the raw events " +
        "pass is one moment aggregate, never windowed)")),
    "q_newey_west" -> ((3,
      "three lag windows run on the checkpointed per-DAY global " +
        "series — calendar-bounded (~31 rows) at any corpus scale")),
    "q_engle_granger" -> ((1,
      "residual lag window runs on the checkpointed day-paired " +
        "series — calendar-bounded at any corpus scale"))
  )

  test("guard trips on an intentionally unpartitioned window fixture") {
    val bad = spark.range(8).toDF("id")
      .withColumn("rk", row_number().over(Window.orderBy(col("id"))))
    assert(PlanCheck.unpartitionedWindows(bad).nonEmpty)
  }

  test("a partitioned window does not trip the guard") {
    val ok = spark.range(8).toDF("id")
      .withColumn("rk",
        row_number().over(Window.partitionBy(col("id") % 2).orderBy(col("id"))))
    assert(PlanCheck.unpartitionedWindows(ok).isEmpty)
  }

  test("cartesian guard trips on an unbroadcast cross join fixture") {
    val a = spark.range(8).toDF("a")
    val b = spark.range(8).toDF("b")
    // hint both sides AWAY from broadcast so the planner must pick
    // CartesianProductExec
    val cross = a.hint("shuffle_replicate_nl").crossJoin(b)
    assert(PlanCheck.cartesianProducts(cross) > 0)
    // the bounded totals pattern (broadcast 1-row aggregate) stays legal
    val tot = b.agg(count(lit(1)).as("n"))
    assert(PlanCheck.cartesianProducts(a.crossJoin(broadcast(tot))) == 0)
  }

  test("no registry query has an unbroadcast cartesian product") {
    val batch = Registry.all.filterNot(_.name.startsWith("st_"))
    val offenders = batch.flatMap { q =>
      val n = PlanCheck.cartesianProducts(q.fn(tables))
      if (n > 0) Some(s"${q.name}: $n CartesianProduct node(s)") else None
    }
    assert(offenders.isEmpty, s"cartesian products:\n${offenders.mkString("\n")}")
  }

  test("no registry query has an unallowlisted global window") {
    // st_* queries execute their streaming harness on construction
    // (memory-sink correctness shape) and cannot host a batch global
    // window; they are exercised by StreamQueriesSpec instead.
    val batch = Registry.all.filterNot(_.name.startsWith("st_"))
    val offenders = batch.flatMap { q =>
      val wins = PlanCheck.unpartitionedWindows(q.fn(tables))
      val cap = allow.get(q.name).map(_._1).getOrElse(0)
      if (wins.size > cap) Some(s"${q.name}: ${wins.size} global window(s) [${wins.mkString(" | ")}]")
      else None
    }
    assert(offenders.isEmpty, s"unaudited global windows:\n${offenders.mkString("\n")}")
  }
}
