package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Pipeline2Spec extends SparkSpec {

  test("funnel stage counts are monotonically non-increasing") {
    val rows = Pipeline2.qFunnel(tables)
      .orderBy("stage").collect().map(_.getLong(2))
    assert(rows.length == 3)
    assert(rows(0) >= rows(1) && rows(1) >= rows(2))
    assert(rows(0) > 0)
  }

  test("scd2 intervals chain per key: valid_to equals next valid_from, one current row") {
    val rows = Pipeline2.qScd2(tables)
      .select("user_id", "valid_from_us", "valid_to_us")
      .collect()
      .groupBy(_.getLong(0))
    rows.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getLong(2) == b.getLong(1)) // valid_to = next valid_from
      }
      assert(sorted.count(_.isNullAt(2)) == 1) // exactly one open interval
    }
  }

  test("first/last touch agrees with an explicit sort per user") {
    val byUser = tables.events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"), col("event_id"))
      .collect().groupBy(_.getLong(0))
    val got = Pipeline2.qFirstLastTouch(tables).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    byUser.foreach { case (u, rs) =>
      val s = rs.sortBy(r => (r.getLong(2), r.getLong(3)))
      assert(got(u) == (s.head.getString(1), s.last.getString(1)))
    }
  }

  test("nearest-site assignment is the true argmin with lowest-id ties") {
    val sites = tables.nation.select(
      col("n_nationkey").cast("long"),
      pmod(col("n_nationkey") * 37, lit(127)).cast("double"),
      pmod(col("n_nationkey") * 59, lit(89)).cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val pts = tables.events.select(
      col("event_id"), col("value"),
      get_json_object(col("props"), "$.k").cast("double"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val got = Pipeline2.geoNearest(tables).collect()
    assert(got.length == pts.size)
    got.take(200).foreach { r =>
      val (x, y) = pts(r.getLong(0))
      val best = sites.map { case (id, sx, sy) =>
        ((x - sx) * (x - sx) + (y - sy) * (y - sy), id)
      }.min
      assert(r.getLong(1) == best._2)
    }
  }

  test("span dedup keeps first occurrence only and never grows a doc") {
    val df = Pipeline2.txSpanDedup(tables).cache()
    assert(df.filter(col("n_kept") > col("n_spans")).count() == 0)
    // every surviving span is globally unique across the corpus:
    // total kept == number of DISTINCT spans, computed independently
    val toks = split(col("text"), " ")
    val distinctSpans = tables.documents
      .select(explode(transform(
        sequence(lit(0), (ceil(size(toks) / lit(8.0)) - 1).cast("int")),
        i => array_join(slice(toks, i * 8 + 1, lit(8)), " "))).as("span"))
      .distinct().count()
    assert(df.agg(sum("n_kept")).head().getLong(0) == distinctSpans)
    // doc 0 keeps all its spans (first doc wins every tie)
    val d0 = df.filter(col("doc_id") === 0).head()
    assert(d0.getLong(1) == d0.getLong(2))
    df.unpersist()
  }

  test("MAD outlier counts are bounded and stats positive") {
    val rows = Pipeline2.qOutlierMad(tables).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getDouble(1) > 0 && r.getDouble(2) > 0)
      assert(r.getLong(3) >= 0 && r.getLong(3) < r.getLong(4) / 2)
    }
  }

  test("merge upsert: deletes drop, inserts are fresh negative keys, rest partition the snapshot") {
    val df = Pipeline2.qMergeUpsert(tables).cache()
    val byStatus = df.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nCust = tables.customer.count()
    val errUsers = tables.events.filter(col("event_type") === "error")
      .select("user_id").distinct().count()
    assert(byStatus.getOrElse("unchanged", 0L) + byStatus.getOrElse("updated", 0L) ==
      nCust - errUsers)
    assert(df.filter(col("status") === "inserted" && col("c_custkey") >= 0).count() == 0)
    assert(df.filter(col("status") === "inserted").count() ==
      df.filter(col("c_name").isNull).count())
    df.unpersist()
  }

  test("incremental read pushes the watermark predicate to the parquet scan") {
    val df = Pipeline2.srcIncremental(tables)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(ts"),
      s"watermark filter not pushed:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) > r.getLong(4))) // first_us > watermark_us
  }

  test("expanding window: final row per user carries the lifetime totals") {
    val rows = Pipeline2.qExpanding(tables).collect().groupBy(_.getLong(1))
    val totals = tables.events.groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    rows.foreach { case (u, rs) =>
      val last = rs.maxBy(r => (r.getLong(2), r.getLong(0)))
      assert(last.getLong(5) == totals(u)._1)
      assert(math.abs(last.getDouble(4) - totals(u)._2) < 1e-6)
    }
  }

  test("sketch precision: estimates stay within 0.35 of exact Jaccard on near-dups") {
    val rows = Pipeline2.ddSketchPrecision(tables).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(4) <= 0.35, s"pair ${r.getLong(0)},${r.getLong(1)} err ${r.getDouble(4)}"))
  }

  test("pseudonymization is 1:1 and preserves event counts") {
    val df = Pipeline2.txPseudonymize(tables).cache()
    assert(df.filter(col("n_source_keys") =!= 1).count() == 0)
    assert(df.count() == tables.events.select("user_id").distinct().count())
    assert(df.agg(sum("n_events")).head().getLong(0) == tables.events.count())
    df.unpersist()
  }

  test("within-window dedup keeps the earliest event per (user,type,hour)") {
    val kept = Pipeline2.ddWithinWindow(tables).cache()
    assert(kept.groupBy("user_id", "event_type", "hour").count()
      .filter(col("count") > 1).count() == 0)
    assert(kept.agg(sum("n_collapsed")).head().getLong(0) == tables.events.count())
    kept.unpersist()
  }

  test("approx quantiles stay within 1% rank error of exact") {
    val approx = Pipeline2.qQuantileApproxRaw(tables).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val exact = tables.events.groupBy("event_type")
      .agg(expr("percentile(value, array(0.49d, 0.51d, 0.94d, 0.96d))").as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    exact.foreach { case (k, e) =>
      val (p50, p95) = approx(k)
      assert(p50 >= e(0) && p50 <= e(1), s"$k p50=$p50 not in [${e(0)},${e(1)}]")
      assert(p95 >= e(2) && p95 <= e(3), s"$k p95=$p95 not in [${e(2)},${e(3)}]")
    }
  }

  test("oracled sketch gates: every rank-window flag is 1 (the invariant the oracle restates)") {
    Pipeline2.qQuantileApprox(tables).collect().foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getLong(2) == 1L && r.getLong(3) == 1L && r.getLong(4) == 1L,
        s"quantile rank gate failed for ${r.getString(0)}")
    }
    Pipeline2.qOutlierMadApprox(tables).collect().foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getLong(2) == 1L && r.getLong(3) == 1L,
        s"MAD rank gate failed for ${r.getString(0)}")
    }
  }

  test("classifier inference is map-only and scores are proper probabilities") {
    val df = Pipeline2.txQualityClassifier(tables)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"classifier scan should not shuffle:\n$plan")
    val rows = df.collect()
    assert(rows.length == tables.documents.count())
    rows.foreach { r =>
      val s = r.getDouble(1)
      assert(s > 0.0 && s < 1.0)
      assert(r.getBoolean(2) == (s >= 0.5))
    }
  }

  test("mv merge equals a direct full aggregate") {
    val merged = Pipeline2.qMvMerge(tables).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val direct = tables.events.groupBy("event_type")
      .agg(count(lit(1)), round(sum("value"), 4), min("value"), max("value"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(merged == direct)
  }

  test("pq encode scan is map-only and codes are valid codebook ids") {
    val df = graft.operators.Similarity.pqCodes(
      tables.embeddings, "vec_id", "embedding", "label", m = 4)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"pq encode should not shuffle:\n$plan")
    val rows = df.collect()
    assert(rows.length == tables.embeddings.count())
    rows.foreach { r =>
      (1 to 4).foreach(i => assert(r.getInt(i) >= 0 && r.getInt(i) <= 9))
      assert(r.getDouble(5) >= 0.0)
    }
  }

  test("leakage-safe split never puts one dup-group in two splits") {
    val df = Pipeline2.smLeakageSafeSplit(tables).cache()
    assert(df.count() == tables.documents.count())
    val straddling = df.groupBy("component")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(straddling == 0)
    assert(df.select("split").distinct().count() >= 2) // split actually varies
    df.unpersist()
  }

  test("nearest-site and repetition scans stay shuffle-free (plan regression)") {
    Seq(
      Pipeline2.geoNearest(tables),
      graft.operators.TextOps.repetitionMetrics(tables.documents, "text", "doc_id")
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"expected map-only plan:\n$plan")
    }
  }

  test("radial simplification keeps the first point and never lengthens the line") {
    val rows = Pipeline2.geoSimplify(tables).collect()
    assert(rows.nonEmpty)
    // full polyline length with the SAME (ts, event_id) tiebreak the
    // operator sorts by, so the comparison is order-exact even if a
    // fixture ever carries tied timestamps
    val full = tables.events
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"),
        col("value").as("x"),
        get_json_object(col("props"), "$.k").cast("double").as("y"))
      .collect().groupBy(_.getLong(0)).map { case (u, rs) =>
        val pts = rs.sortBy(r => (r.getLong(1), r.getLong(2)))
          .map(r => (r.getDouble(3), r.getDouble(4)))
        u -> pts.sliding(2).collect { case Array((x1, y1), (x2, y2)) =>
          math.sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
        }.sum
      }
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1)) // 1 <= kept <= points
      // chord-shortening: the simplified path is never longer
      full.get(r.getLong(0)).foreach(l => assert(r.getDouble(3) <= l + 1e-6))
    }
  }

  test("interleave ranks are dense per source and mix keys scale by weight") {
    val rows = Pipeline2.smInterleave(tables).collect()
    val bySrc = rows.groupBy(_.getString(1))
    bySrc.foreach { case (src, rs) =>
      val ranks = rs.map(_.getInt(2)).sorted
      assert(ranks.toSeq == (1 to rs.length))
      assert(rs.length >= 2, s"fixture precondition: source $src needs >=2 docs")
      val w = src.filter(_.isDigit).toInt % 4 + 1
      val second = rs.sortBy(_.getInt(2)).apply(1)
      assert(math.abs(second.getDouble(3) - 1.0 / w) < 1e-4)
    }
  }

  test("approx MAD medians stay within 1% rank error of exact") {
    val approx = Pipeline2.qOutlierMadApproxRaw(tables).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // Exact values at the rank-error bounds: approx_percentile with
    // accuracy 10000 guarantees the returned value sits at a rank
    // within ±1% of the true median's.
    val medBounds = graft.operators.Quantiles.exactInterpolated(
        tables.events, "event_type", "value",
        Seq("lo" -> 0.49, "hi" -> 0.51))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    medBounds.foreach { case (k, (lo, hi)) =>
      val m = approx(k)._1
      assert(m >= lo - 1e-4 && m <= hi + 1e-4, s"$k median=$m not in [$lo,$hi]")
    }
    // MAD column sanity: non-negative, and n_outliers bounded by n.
    Pipeline2.qOutlierMadApproxRaw(tables).collect().foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getLong(3) <= r.getLong(4))
    }
  }

  test("exact-MAD twin agrees with approx within the rank window") {
    val exact = Pipeline2.qOutlierMad(tables).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = Pipeline2.qOutlierMadApproxRaw(tables).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val medBounds = graft.operators.Quantiles.exactInterpolated(
        tables.events, "event_type", "value",
        Seq("lo" -> 0.49, "hi" -> 0.51))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    exact.foreach { case (k, m) =>
      val (lo, hi) = medBounds(k)
      assert(m >= lo - 1e-4 && m <= hi + 1e-4)
      assert(approx(k) >= lo - 1e-4 && approx(k) <= hi + 1e-4)
    }
  }
}
