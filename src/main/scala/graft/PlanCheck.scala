package graft

// Diagnostic main: prints condensed executed-plan facts per query
// (broadcast usage, pushed filters, shuffle count).
object PlanCheck {

  /** Window nodes with an EMPTY partition spec in `df`'s optimized
    * plan, rendered as their window-expression lists. An
    * unpartitioned window funnels its whole input through ONE task —
    * a scale-killer unless the input is already bounded (e.g. a
    * heap-limited candidate list). PlanGuardSpec runs this over
    * every registry query and fails anything outside its audited
    * allowlist, so a global window can never land silently again.
    */
  def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Window
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty =>
        w.windowExpressions.map(_.sql).mkString(", ")
    }
  }

  /** Unbroadcast cartesian products in `df`'s physical plan — the
    * other single-plan scale-killer class beside global windows: a
    * `CartesianProductExec` pairs every partition with every
    * partition (O(N·M) IO and compute). Broadcast nested-loop joins
    * of 1-row/dimension aggregates (the `crossJoin(broadcast(tot))`
    * totals pattern) are NOT flagged — their loop side is bounded by
    * construction. PlanGuardSpec runs this over every registry query.
    */
  def cartesianProducts(df: org.apache.spark.sql.DataFrame): Int =
    "CartesianProduct".r
      .findAllIn(df.queryExecution.executedPlan.toString)
      .length

  /** True iff at least one scan in `df`'s physical plan carries a
    * non-empty PushedFilters list — the "did the predicate reach
    * parquet row-group stats" check. PushdownGuardSpec pins every
    * query measured pushing today, so a refactor that silently
    * lifts a filter off the scan (a cast on the column, a UDF in
    * the predicate, a restructure above the read) fails `sbt test`.
    */
  def hasPushedFilters(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("PushedFilters: [") &&
      "PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined
  }

  /** (shuffle exchanges, broadcast exchanges) in `df`'s physical
    * plan — the measured shuffle profile of SURVEY §4 as a number.
    * ReusedExchange subtracts (it re-reads an already-materialized
    * exchange, no new shuffle). ExchangeBudgetSpec pins a per-query
    * maximum over the whole registry: any future plan regression
    * that adds an exchange fails `sbt test` the same way the
    * window/cartesian guards close their classes.
    */
  def exchangeCounts(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    // Line-based: each plan node prints one line, and a
    // `ReusedExchange [...], Exchange hashpartitioning(...)` line
    // names the node it reuses — substring counting over the whole
    // plan would charge every reuse as a fresh exchange (and a
    // reused broadcast as a broadcast). A ReusedExchange line
    // contributes to neither count: it re-reads materialized data.
    val lines = df.queryExecution.executedPlan.toString.split('\n')
    val live = lines.filterNot(_.contains("ReusedExchange"))
    val broadcast = live.count(_.contains("BroadcastExchange"))
    val shuffle = live.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    (shuffle, broadcast)
  }
  /** `runMain graft.PlanCheck budget [dir]` prints the per-query
    * exchange counts as `name shuffle bcast` rows measured in the
    * TEST session shape (local[4]/4 shuffle partitions, same as
    * SparkSpec) — the source of ExchangeBudgetSpec's budget table.
    */
  def budgetMain(dir: String): Unit = {
    val spark = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t = Tables(spark, dir)
    SparkEntry.runEach(spark, SparkEntry.select(Nil).filterNot(_.name.startsWith("st_"))) { q =>
      val (s, b) = exchangeCounts(q.fn(t))
      println(s"BUDGET ${q.name} $s $b")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("budget")) {
      budgetMain(if (args.length > 1) args(1) else "/root/testdata/sf0.001")
      return
    }
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"entry rows (sf0.001): ${SparkEntry.entry(spark).count()}")
    val t = Tables(spark, dir)
    SparkEntry.runEach(spark, SparkEntry.select(Nil)) { q =>
      val df = q.fn(t)
      val (shuffles, bcasts) = exchangeCounts(df)
      // Spark 4 executedPlan.toString marks codegen stages as
      // "*(n) Operator"; count distinct stage ids.
      val wsc = """\*\((\d+)\)""".r
        .findAllMatchIn(df.queryExecution.executedPlan.toString).map(_.group(1)).toSet.size
      println(f"${q.name}%-22s shuffles=$shuffles%-3d bcast=$bcasts%-3d " +
        f"pushedFilters=${hasPushedFilters(df)}%-5s codegenSpans=$wsc")
    }
    spark.stop()
  }
}
