package graft

import graft.queries.Registry

/** Pushdown guard — the third plan-regression class beside the
  * window/cartesian guards and the exchange budget: every query
  * measured delivering a predicate to its parquet scan
  * (PushedFilters non-empty) is pinned here. A change that lifts a
  * filter off the scan — a cast wrapped around the filtered column,
  * a non-pushable expression in the predicate, a restructure above
  * the read — silently turns a pruned scan into a full scan at
  * 100 TB; this spec makes it a test failure instead. Measured with
  * `runMain graft.PlanCheck` in the suite session shape; extend the
  * list when a new filtered query lands.
  */
class PushdownGuardSpec extends SparkSpec {

  private val mustPush: Seq[String] = Seq(
    "q1_pricing",
    "q3_priority",
    "q5_volume",
    "q_events_window",
    "src_bbox_filter",
    "src_filter_eq",
    "src_filter_in",
    "src_divisions_clip",
    "src_polygon_clip",
    "tr_drop_invalid",
    "geo_point_in_bbox",
    "dd_embedding_neardup",
    "sim_cosine_topk",
    "sim_lsh_ann",
    "sim_centroid",
    "sim_ivf_ann",
    "ref_buildings",
    "ref_education",
    "ref_markets",
    "ref_power",
    "q_exists",
    "q_rollup",
    "q_cube",
    "q_percentiles",
    "q_enrich_join",
    "src_intersect",
    "dd_levenshtein",
    "q_range_join",
    "dd_decontaminate",
    "q_snapshot_diff",
    "q_retention",
    "q_funnel",
    "q_scd2",
    "q_outlier_mad",
    "q_outlier_mad_approx",
    "dd_decontaminate_bloom",
    "src_incremental",
    "q_mv_merge",
    "pipe_manifest",
    "dd_cluster_rep",
    "q_psi_drift")

  test("pinned queries exist in the registry") {
    val reg = Registry.all.map(_.name).toSet
    val ghosts = mustPush.filterNot(reg.contains)
    assert(ghosts.isEmpty, s"pinned but not registered: $ghosts")
  }

  test("every pinned query still pushes a filter to its scan") {
    val byName = Registry.all.map(q => q.name -> q).toMap
    val offenders = mustPush.filterNot { n =>
      PlanCheck.hasPushedFilters(byName(n).fn(tables))
    }
    assert(offenders.isEmpty,
      s"queries whose scan predicate disappeared: $offenders")
  }
}
