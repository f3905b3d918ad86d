package graft

import graft.queries.Registry

/** Exchange-budget guard (VERDICT r6 ask #2): every batch registry
  * query's physical plan is pinned to a measured maximum number of
  * shuffle and broadcast exchanges — the SURVEY §4 shuffle profile
  * turned into an assertion. Any future change that adds an
  * exchange (a lost broadcast, a new repartition, a join that
  * stopped co-locating) fails `sbt test` instead of landing
  * silently, the same way the global-window and cartesian guards
  * closed their classes.
  *
  * Budgets were measured with `runMain graft.PlanCheck budget` in
  * this suite's exact session shape (local[4], 4 shuffle
  * partitions, sf0.001) — regenerate the table the same way after
  * an INTENTIONAL plan change, and justify any increase in the
  * commit that carries it.
  */
class ExchangeBudgetSpec extends SparkSpec {

  /** name -> (max shuffle exchanges, max broadcast exchanges). */
  private val budget: Map[String, (Int, Int)] = Map(
    "q1_pricing" -> ((1, 0)),
    "q3_priority" -> ((1, 2)),
    "q5_volume" -> ((1, 5)),
    "q_topn_window" -> ((1, 0)),
    "q_events_window" -> ((1, 0)),
    "q_sessionize" -> ((1, 0)),
    "src_select_alias" -> ((0, 0)),
    "src_json_nested" -> ((0, 0)),
    "src_bbox_filter" -> ((0, 0)),
    "src_filter_eq" -> ((0, 0)),
    "src_filter_in" -> ((0, 0)),
    "src_limit" -> ((0, 0)),
    "src_multilayer" -> ((0, 0)),
    "src_geometry_split" -> ((1, 0)),
    "src_divisions_clip" -> ((0, 2)),
    "src_polygon_clip" -> ((0, 0)),
    "tr_normalize_roads" -> ((0, 0)),
    "tr_normalize_buildings" -> ((0, 0)),
    "tr_normalize_places" -> ((0, 0)),
    "tr_clip_strings" -> ((0, 0)),
    "tr_safe_numeric" -> ((0, 0)),
    "tr_first_of_array" -> ((0, 0)),
    "tr_sanitize_fields" -> ((0, 0)),
    "tr_metadata_enrich" -> ((0, 0)),
    "tr_drop_invalid" -> ((0, 0)),
    "tr_geometry_rules" -> ((1, 0)),
    "tr_reproject" -> ((0, 0)),
    // N9: 1 corpus-sized (source,bucket) window exchange; the other
    // three move bucket-combined partials / per-source finals only.
    "sm_token_budget_mix" -> ((4, 1)),
    "sm_epoch_shuffle" -> ((1, 0)),
    // Round-8 batch 2: gopher + importance scoring are map-only
    // (the DSIR model is collected eagerly, outside the scored
    // plan); soft dedup's one shuffle is the LABELS-side component
    // agg (tiny), the corpus side is broadcast-joined and never
    // exchanges; source overlap is bigram-agg + tiny pair-agg;
    // the composed curation adds only the 20-row source rollup.
    // Round-8 batch 3: the bloom join broadcasts the dimension and
    // pays the countDistinct two-phase agg (the bloom build itself
    // runs eagerly, outside the result plan); heavy hitters' one
    // shuffle is the exact groupBy over CMS-surviving rows only;
    // URL dedup exchanges once on the canonical key; geohash and
    // readability are map-only column math.
    "q_bloom_join" -> ((2, 1)),
    "q_heavy_hitters" -> ((1, 0)),
    "dd_url_dedup" -> ((1, 0)),
    "geo_geohash" -> ((0, 0)),
    "tx_readability" -> ((0, 0)),
    // Round-8 batch 4: phash pairs shuffle the banded 16-byte rows
    // (band join both sides + the distinct), never payloads; BPE
    // pair counts collapse to the alphabet²-bounded vocabulary
    // map-side before ONE exchange; the skew report pays one
    // count-shuffle per candidate key (3) + their single-row finals.
    "mm_phash_neardup" -> ((2, 0)),
    "mm_phash_eval" -> ((6, 1)),
    // r10: real ImageIO encode+decode — map-only, payloads never shuffle
    "mm_decode_real" -> ((0, 0)),
    "mm_decode_jpeg" -> ((0, 0)),
    "tx_bpe_pair_stats" -> ((1, 0)),
    "q_skew_report" -> ((6, 0)),
    // Round-8 batch 5: MIPS broadcasts the 10 queries and pays the
    // per-query window; the noisy release and the corpus card are
    // one-rollup aggregates with map-side noise/signal math.
    "sim_mips_topk" -> ((1, 1)),
    "q_dp_counts" -> ((1, 0)),
    "pipe_corpus_card" -> ((1, 0)),
    // q_pagerank checkpoints every SECOND iteration, so the final
    // plan carries the last (odd) iteration's exchanges on top of
    // the checkpointed rank table: rank join + contribution agg +
    // dangling agg + final assembly = 8 shuffles of NODE-sized rows
    // (never edge- or corpus-sized), nation + dangling broadcast.
    "q_pagerank" -> ((8, 2)),
    "sim_rp_project" -> ((1, 1)),
    "q_change_detect" -> ((2, 0)),
    // Batch 7: triangle counting's 5 are edge-agg + degree-agg + the
    // two orientation joins + the per-node rollup (wedge/closing
    // joins reuse the checkpointed oriented-edge partitioning);
    // blocked-ER's corpus agg is checkpointed so the three consumers
    // pay it once; PMI's 2 are the unigram/bigram corpus aggs, the
    // 4 broadcasts are the vocab-bounded unigram table (×2) + the
    // two 1-row totals.
    "q_triangle_count" -> ((5, 0)),
    "q_gini" -> ((1, 1)),
    "dd_blocked_er" -> ((2, 1)),
    "sm_kfold" -> ((1, 0)),
    "tx_pmi_bigrams" -> ((2, 4)),
    // Batch 8: seasonal = two bounded aggs (type×7 / type,
    // broadcast-joined); holt = daily rollup + per-type series agg;
    // RAKE = token window + phrase agg + word/phrase rollups + the
    // distinct-phrase word join (vocab-bounded after phrase agg);
    // deflate ratio is map-only.
    "q_seasonal_index" -> ((2, 1)),
    "q_holt" -> ((2, 0)),
    "tx_rake_keywords" -> ((5, 1)),
    "tx_compress_ratio" -> ((0, 0)),
    // Batch 9: window-distinct = dedup + day-table + fanout join +
    // count-distinct agg; assoc = basket-array agg (checkpointed)
    // + pair/type/total rollups (pair fanout is map-side — no
    // basket self-join); reservoir is pure TakeOrdered (0
    // exchanges); class-balance = class histogram + rank window +
    // final rollup with the 1-row min broadcast.
    "q_window_distinct" -> ((4, 1)),
    "q_assoc_rules" -> ((4, 3)),
    "sm_reservoir" -> ((0, 0)),
    "sm_class_balance" -> ((3, 1)),
    // Batch 10: codec roundtrip = one agg over the zstd stage;
    // ab-lift = one conditional agg; lag-ratio = daily rollup +
    // day-bounded window; multikey-ER = the two star-edge window
    // passes collapse into the checkpointed CC rounds' exchanges;
    // rare-tokens = type agg + doc rollup (GlobalRank's sort is
    // RDD-side, its exchange shows as the one extra broadcast of
    // the quartile table).
    "src_codec_roundtrip" -> ((1, 0)),
    "exp_geoparquet_roundtrip" -> ((1, 0)),
    "exp_shapefile_roundtrip" -> ((1, 0)),
    "exp_fgb_roundtrip" -> ((1, 0)),
    "exp_geojsonseq_roundtrip" -> ((1, 0)),
    "q_jarque_bera" -> ((1, 0)),
    "q_levene" -> ((3, 1)),
    "q_two_proportion_z" -> ((1, 0)),
    "q_clustering_coeff" -> ((8, 0)),
    "q_log_rank" -> ((5, 2)),
    "q_durbin_watson" -> ((4, 1)),
    "q_ljung_box" -> ((2, 0)),
    "exp_gpkg_roundtrip" -> ((1, 0)),
    // A27: two per-layer group aggregates (one exchange each) over
    // the distributed GpkgReader leaf-page scans, unioned
    "exp_gpkg_multilayer" -> ((2, 0)),
    // E34: banded simhash self-join over the fixed panel + the
    // truth-join agg; the E4 session pairs ride the checkpoint
    "dd_simhash_eval" -> ((4, 1)),
    // E35: the E2 band exchange + the pair-join agg over the
    // session E4 pairs
    "dd_minhash_est_eval" -> ((3, 1)),
    // F18: the F1 topk window + F4's centroid agg/assignment/in-cell
    // rank + the 50-row eval join; query set and centroids broadcast
    "sim_ivf_eval" -> ((8, 3)),
    // E36 (r13): TWO full capped simhash variants (per variant: the
    // (band,key) width-window + self-join share one hash exchange
    // budgeted as its parts, truth join, dropped-bucket agg, three
    // 1-row total joins); candidates are cap-bounded so every
    // exchange moves pair/agg-sized rows
    "dd_simhash_eval2" -> ((18, 6)),
    // F19 (r13): SIX IVF searches (label ×3 nprobe + trained ×3) +
    // the F1 exact side + six 50-row eval joins; centroids, probe
    // sets and query vectors all broadcast, base scans never shuffle
    "sim_ivf_eval2" -> ((42, 18)),
    // E37 (r13): the two-batch replay runs EAGERLY at stage time
    // (H20 convention); the registered plan is two (batch,lang)
    // aggregates over the staged kept-id parquet joined to documents
    "dd_incremental" -> ((2, 2)),
    // A28: one (layer, grp) aggregate over the exploded combined
    // FeatureCollection
    "exp_geojson_multilayer" -> ((1, 0)),
    // H20: two per-layer status aggregates over the published
    // parquet layers (the publish writes run eagerly at stage time)
    "exp_feature_upsert" -> ((2, 0)),
    "q_grubbs" -> ((4, 1)),
    "q_ccf" -> ((3, 1)),
    "q_changepoint" -> ((4, 1)),
    "dd_lsh_eval" -> ((6, 1)),
    "q_ab_lift" -> ((1, 0)),
    "q_lag_ratio" -> ((2, 0)),
    // CC labels of a pair set within Dedup.DriverCcPairs come from the
    // driver finish, so the labels plan has no exchange of its own.
    "dd_multikey_er" -> ((0, 0)),
    "tx_rare_tokens" -> ((1, 1)),
    // Batch 11: lineage = one rollup over the partitioned stage;
    // drawdown = daily rollup + day-bounded window/agg;
    // release-manifest = one bounded agg downstream of the
    // session-cached M1 survivors.
    "src_file_lineage" -> ((1, 0)),
    "q_drawdown" -> ((2, 0)),
    "pipe_release_manifest" -> ((1, 0)),
    // Round-8 batch 12: line-dedup's exchanges are the segment-hash
    // df agg + the two doc-keyed reassembly joins (AQE broadcasts
    // the boilerplate set and the kept-idx table at test sf);
    // markov = user window + vocab²-bounded pair agg + its tiny
    // row-normalizing window; confusion = 16-row agg + its window;
    // length-buckets = the N9 two-phase shape (one corpus
    // (bucket,sub) exchange, offsets agg + tiny window, broadcast
    // offsets join).
    "dd_line_dedup" -> ((3, 2)),
    "q_markov_transitions" -> ((3, 0)),
    "tx_lang_confusion" -> ((2, 0)),
    "sm_length_buckets" -> ((3, 1)),
    // Round-8 batch 13: weighted median pays the value-compaction
    // agg + the per-flag cumulative window on the COMPACTED table;
    // skyline pays the per-date agg + the bounded-window frontier,
    // then broadcasts the frontier back (no self-join exchange);
    // regression is one moment-sketch agg; benford's 2nd/3rd
    // shuffles move <=9 digit rows (total agg + re-agg) and the
    // 1-row total broadcasts; bearing is the lag-window user
    // exchange only.
    "q_weighted_median" -> ((2, 0)),
    "q_skyline" -> ((2, 1)),
    "q_regression" -> ((1, 0)),
    "q_benford" -> ((3, 1)),
    "geo_bearing" -> ((1, 0)),
    "tx_gopher_rules" -> ((0, 0)),
    "sm_importance_weight" -> ((0, 0)),
    "dd_soft_dedup" -> ((1, 2)),
    "dd_source_overlap" -> ((2, 0)),
    "pipe_curate_corpus" -> ((2, 2)),
    "geo_bbox_agg" -> ((1, 0)),
    "geo_line_length" -> ((1, 0)),
    "geo_point_in_bbox" -> ((1, 0)),
    "geo_haversine" -> ((1, 0)),
    "dd_exact" -> ((1, 0)),
    "dd_minhash_lsh" -> ((1, 1)),
    "dd_simhash" -> ((0, 0)),
    "dd_ngram_jaccard" -> ((0, 0)),
    "dd_embedding_neardup" -> ((0, 1)),
    "sim_cosine_topk" -> ((1, 1)),
    // r10: recall-invariant row = exact top-k (2 sh) + LSH candidates
    // (broadcast queries) + hit-join + single-row agg
    "sim_lsh_ann" -> ((6, 2)),
    "sim_centroid" -> ((2, 0)),
    "sim_ivf_ann" -> ((4, 2)),
    "sim_kmeans" -> ((0, 0)),
    "tx_tokens" -> ((0, 0)),
    "tx_tokens_bpe" -> ((0, 0)),
    "tx_quality" -> ((0, 0)),
    "tx_langid" -> ((0, 0)),
    "tx_fingerprint" -> ((0, 0)),
    "mm_binary_meta" -> ((0, 0)),
    "ref_roads" -> ((0, 0)),
    "ref_buildings" -> ((0, 0)),
    "ref_education" -> ((0, 0)),
    "ref_markets" -> ((0, 0)),
    "ref_power" -> ((0, 0)),
    "q_exists" -> ((0, 1)),
    "q_not_exists" -> ((0, 1)),
    "q_rollup" -> ((1, 2)),
    "q_cube" -> ((1, 2)),
    "q_percentiles" -> ((1, 0)),
    "q_pivot" -> ((2, 0)),
    "q_enrich_join" -> ((1, 1)),
    "q_salted_agg" -> ((2, 0)),
    "dd_exact_norm" -> ((1, 0)),
    "tx_bigrams" -> ((2, 0)),
    // r10: error-invariant row adds the exact countDistinct expand
    "tx_vocab_approx" -> ((2, 0)),
    "q_asof_join" -> ((2, 0)),
    "tx_tfidf" -> ((5, 2)),
    "dd_dedup_groups" -> ((0, 0)),
    "geo_centroid" -> ((1, 0)),
    "pipe_clean_corpus" -> ((0, 0)),
    "q_moving_avg" -> ((1, 0)),
    "q_ntile" -> ((0, 0)),
    "q_histogram" -> ((1, 0)),
    "geo_grid_join" -> ((1, 1)),
    "geo_bbox_typed" -> ((1, 0)),
    "q_topn_heap" -> ((1, 0)),
    "src_regex_extract" -> ((0, 0)),
    "src_intersect" -> ((1, 1)),
    "src_except" -> ((3, 1)),
    "sm_split_assign" -> ((1, 0)),
    "sm_stratified" -> ((1, 0)),
    "tr_from_json" -> ((0, 0)),
    "dd_levenshtein" -> ((0, 2)),
    "mm_decode_stats" -> ((0, 0)),
    "mm_frame_sample" -> ((0, 0)),
    "q_zscore" -> ((1, 0)),
    "q_minmax_scale" -> ((1, 0)),
    "tx_redact" -> ((0, 0)),
    "q_corr_stats" -> ((1, 0)),
    "q_range_join" -> ((1, 1)),
    "q_window_range" -> ((1, 0)),
    "tx_repetition" -> ((0, 0)),
    "tx_chunk" -> ((0, 0)),
    "sm_pack_sequences" -> ((1, 0)),
    "sm_temperature" -> ((1, 0)),
    "tx_unigram_logprob" -> ((4, 2)),
    "dd_decontaminate" -> ((2, 1)),
    "sm_cap_per_source" -> ((1, 0)),
    "geo_zorder" -> ((0, 0)),
    "q_grouping_sets" -> ((1, 0)),
    "q_snapshot_diff" -> ((2, 0)),
    "mm_feature_neardup" -> ((2, 0)),
    "tx_bigram_logprob" -> ((7, 2)),
    "src_hive_partitioned" -> ((0, 0)),
    "src_schema_evolution" -> ((0, 0)),
    "q_gap_fill" -> ((2, 1)),
    "tx_entropy" -> ((0, 0)),
    "q_profile" -> ((2, 0)),
    "pipe_canonicalize" -> ((3, 0)),
    "tr_constraints" -> ((2, 1)),
    "q_retention" -> ((3, 1)),
    "dd_latest_wins" -> ((1, 0)),
    "q_top_paths" -> ((2, 0)),
    "dd_semantic_pairs" -> ((0, 1)),
    "q_funnel" -> ((2, 0)),
    "q_scd2" -> ((1, 0)),
    "q_first_last_touch" -> ((1, 0)),
    "geo_nearest" -> ((0, 0)),
    "tx_span_dedup" -> ((2, 1)),
    "q_outlier_mad" -> ((4, 3)),
    "q_outlier_mad_approx" -> ((4, 3)),
    // r10: one-sided-error invariant row = exact (bc) + bloom scans,
    // anti-join (bc), probe count, single-row aggs
    "dd_decontaminate_bloom" -> ((4, 4)),
    "dd_containment" -> ((0, 0)),
    "tx_ttr" -> ((0, 0)),
    "tx_code_detect" -> ((0, 0)),
    "tx_unigram_logprob_sketch" -> ((1, 0)),
    "sm_interleave" -> ((1, 0)),
    "q_merge_upsert" -> ((3, 0)),
    "src_incremental" -> ((1, 0)),
    "q_expanding" -> ((1, 0)),
    "dd_sketch_precision" -> ((2, 1)),
    "tx_pseudonymize" -> ((2, 0)),
    "dd_within_window" -> ((1, 0)),
    // D36 oracled shape (r12): sketch agg + one rank-gating pass over
    // the broadcast 3-quantile row per group
    "q_quantile_approx" -> ((2, 1)),
    "tx_quality_classifier" -> ((0, 0)),
    "q_mv_merge" -> ((2, 0)),
    "sim_pq" -> ((0, 0)),
    "sm_leakage_safe_split" -> ((2, 0)),
    "q_decay_weighted" -> ((1, 0)),
    "geo_tile_key" -> ((1, 0)),
    "pipe_manifest" -> ((3, 2)),
    "geo_simplify" -> ((1, 0)),
    "src_csv_read" -> ((1, 0)),
    "src_jsonl_read" -> ((1, 0)),
    "src_orc_read" -> ((1, 0)),
    // N12: TakeOrdered top-k — per-partition heaps, no sort exchange.
    "sm_importance_resample" -> ((0, 0)),
    "mm_shard_manifest" -> ((2, 0)), // +1 vs r7 first cut: the linear flatMapGroups pack
    // does not propagate its key partitioning to the (source,shard) rollup; the
    // extra exchange moves manifest-sized rows and replaced an O(n^2) fold (12.5x -> 2.7x at 10x),
    "tx_bm25" -> ((1, 1)),
    "tx_dup_ngram_frac" -> ((2, 2)),
    "sm_curriculum" -> ((0, 0)),
    "sim_hybrid_rrf" -> ((1, 2)),
    "dd_cluster_rep" -> ((1, 1)),
    "q_psi_drift" -> ((3, 3)),
    // Round-8 batch 14: jaro-winkler pairs broadcast one side of the
    // block join at this sf (a real corpus sort-merges on the block
    // key — still no cartesian); zipf/hapax pay the corpus (source,
    // token) compaction + the bounded-table rollup; interval merge is
    // the single user-key exchange (windows + rollup reuse it); mode
    // pays the (user,type) compaction + the argmax window on the
    // compacted table; chi2's 4 post-cell exchanges all move the
    // split×source-bounded cells, plus the 1-row total broadcast.
    "dd_jaro_winkler" -> ((0, 1)),
    "tx_zipf_slope" -> ((2, 0)),
    "tx_hapax_ratio" -> ((2, 0)),
    "q_interval_merge" -> ((1, 0)),
    "q_mode" -> ((2, 0)),
    "sm_split_chi2" -> ((5, 1)),
    // Round-8 batch 15: RFM's three quartile passes are RDD-zip
    // materializations (exchanges invisible to the final plan, same
    // as q_ntile); autocorr/streaks pay one corpus compaction + the
    // calendar-bounded window re-key; OHLC is the single group agg;
    // JSD's post-checkpoint exchanges all move source×20-bounded
    // count tables.
    "q_rfm" -> ((0, 0)),
    "q_autocorr" -> ((2, 0)),
    "q_streaks" -> ((2, 0)),
    "q_ohlc" -> ((1, 0)),
    "tx_jsd_drift" -> ((4, 3)),
    // Round-8 batch 16: every post-checkpoint KS exchange moves a
    // VALUE-bounded table (grid / per-type cum / type-sum; the one
    // corpus-sized exchange is behind the checkpoint); Mann-Whitney
    // pays the corpus value-compaction + the N9 two-phase re-keys;
    // HHI is customer-agg + nation rollup; Kaplan-Meier moves only
    // user-span and calendar-day tables after the span compaction;
    // winnowing's single exchange is the per-doc window re-key.
    "q_ks_test" -> ((11, 5)),
    "q_mann_whitney" -> ((4, 1)),
    "q_hhi" -> ((2, 1)),
    "q_kaplan_meier" -> ((4, 2)),
    // winnowing is ONE native expression on the scan — map-only;
    // LPA's per-iteration exchanges hide behind the per-round label
    // checkpoints (edge build + 3 vote rounds materialize there);
    // novelty pays the (doc, gram-hash) distinct + the first-
    // occurrence agg behind one checkpoint boundary; charclass is a
    // single source-bounded agg.
    "tx_winnowing" -> ((0, 0)),
    // LPA's visible 4 = the post-checkpoint final round (vote join +
    // two aggs) + the seed-label distinct; earlier rounds sit behind
    // the every-2nd-iteration checkpoint.
    "q_label_prop" -> ((4, 0)),
    "tx_ngram_novelty" -> ((2, 1)),
    "tx_charclass_profile" -> ((1, 0)),
    // Round-8 batch 18: rolling corr moves only the calendar×types
    // grid after its checkpointed compaction; Welch reduces to one
    // six-moment row; point-along pays the per-user window re-key;
    // the malformed read is one scan + bounded agg.
    "q_rolling_corr" -> ((4, 3)),
    "q_welch_ttest" -> ((1, 1)),
    "geo_point_along" -> ((1, 0)),
    "src_malformed_jsonl" -> ((1, 0)),
    // Round-8 batch 19: percent-rank re-sorts within the nation key
    // once (rank asc/desc share the exchange); cusum is the corpus
    // compaction + calendar-bounded windows; modality balance moves
    // only the 3-row modality table after its map-side agg.
    "q_percent_rank" -> ((1, 1)),
    "q_cusum" -> ((2, 0)),
    "mm_modality_balance" -> ((3, 1)),
    // Round-8 batch 20: Lorenz pays the customer compaction + the
    // GlobalRank materialization boundary + 10-row-table moves;
    // threshold curve's exchanges all move the pair-bounded tagged
    // table behind the session-cached E4 pairs checkpoint.
    "q_lorenz" -> ((4, 1)),
    "dd_threshold_curve" -> ((3, 0)),
    // Round-8 batch 21: the windowed funnel pays the user-anchor
    // window + the two per-user conditional aggs; prefix rollup is
    // customer compaction + the 4-level rollup; MMR's 16 all move
    // query×8-bounded candidate/sim tables behind the two
    // checkpoints (the greedy unroll re-keys tiny tables per step).
    "q_funnel_windowed" -> ((3, 1)),
    "q_prefix_rollup" -> ((2, 0)),
    "sim_mmr" -> ((16, 0)),
    // Round-8 batch 22: grid cluster's 3 move cell-/dense-bounded
    // tables after the checkpointed histogram (the CC labels are
    // finished on the driver); growth accounting = the
    // (user,day) distinct + the lag re-key + the daily rollup.
    "geo_grid_cluster" -> ((3, 0)),
    "q_growth_accounting" -> ((3, 0)),
    // Round-8 batch 23: attribution = the user-anchor window + the
    // bounded per-type rollup; overlap = the (user,type) distinct +
    // the type-vocab self-join + types^2-bounded finals (3 tiny
    // broadcasts).
    "q_attribution" -> ((2, 0)),
    "q_audience_overlap" -> ((3, 3)),
    // Round-8 batch 24: concurrency = endpoint compaction + per-type
    // window; time split = day histogram + boundary window + the
    // 3-row report (boundary and totals broadcast back).
    "q_peak_concurrency" -> ((2, 0)),
    "sm_time_split" -> ((3, 2)),
    // J6/J7: map-only named sector pipelines (filter+union+metadata).
    "ref_health" -> ((0, 0)),
    "ref_places" -> ((0, 0)),
    // Round-8 batch 25: each FD candidate pays its two-phase exact
    // countDistinct (distinct + lhs rollup + 1-row final = 3 ea);
    // negative pairs = one id equi-join after the map-side candidate
    // arithmetic (doc-count literal broadcast back).
    "q_fd_check" -> ((15, 0)),
    "sm_negative_pairs" -> ((1, 2)),
    "src_geometry_split_wkb" -> ((2, 0)),
    "geo_line_length_wkb" -> ((1, 0)),
    "geo_centroid_wkb" -> ((1, 0)),
    "tr_geometry_rules_wkb" -> ((1, 0)),
    // Round-8 batch 29: BFS rounds run against localCheckpointed
    // frontier/visited tables, so the captured plan is exchange-free
    // (the per-round joins were already materialized); prefix filter
    // pays the df agg + per-doc rank + prefix self-join + the
    // candidate↔profile verify joins.
    "q_khop_bfs" -> ((0, 0)),
    "dd_prefix_filter" -> ((5, 1)),
    // Batch 30: mutual kNN pays the cell-keyed self-join + source-id
    // window + the reversed-key mutuality join; hard negatives are
    // one broadcast of the 10-query side + the per-query window.
    "sim_knn_mutual" -> ((4, 2)),
    "sim_hard_negatives" -> ((1, 1)),
    // Batch 31: SSSP rounds run against localCheckpointed dist tables
    // (D83's exchange-free captured-plan shape); the medoid pays the
    // explode-side checkpoint reads + per-vec/cell-dim/cell moment
    // aggs + the dot agg, with the k·d moment tables broadcast.
    "q_sssp_weighted" -> ((0, 0)),
    "q_medoid" -> ((6, 3)),
    // Batch 32: k-core peels run against per-round localCheckpoints
    // (only the final degree agg is live in the captured plan); the
    // covariance pays the d²-cell pair agg + the d-cell sum agg,
    // with both d-sized moment tables broadcast back.
    "q_kcore" -> ((1, 0)),
    "sim_cov_matrix" -> ((0, 0)),
    "sim_whiten_identity" -> ((0, 0)),
    "q_page_hinkley" -> ((2, 0)),
    "q_isotonic" -> ((0, 0)),
    "q_resource_alloc" -> ((6, 0)),
    "q_assortativity" -> ((5, 0)),
    "q_graph_modularity" -> ((4, 3)),
    "q_harmonic_centrality" -> ((2, 0)),
    "q_spearman" -> ((3, 0)),
    "q_cohens_kappa" -> ((1, 0)),
    "q_kendall_tau" -> ((9, 6)),
    "q_theil_index" -> ((8, 5)),
    "q_mann_kendall" -> ((4, 3)),
    "q_runs_test" -> ((1, 0)),
    "tx_vocab_coverage" -> ((0, 0)),
    "tx_good_turing" -> ((0, 0)),
    "q_mcnemar" -> ((1, 0)),
    "tx_chao1" -> ((2, 0)),
    "tx_heaps_curve" -> ((6, 2)),
    // Batch 33: the live plan is the p3 matrix-vector step (counts
    // and p1/p2 are checkpointed) — the window+count pass already
    // paid, leaving the type-keyed agg + final vector joins, with
    // the p-vectors and totals broadcast.
    "q_markov_absorption" -> ((3, 3)),
    // Batch 34: ANOVA is the single moment-row aggregate; seq-pairs
    // pays the (user,type) compact, the per-user list, the pair agg
    // and the totals path (all post-compact rows are vocabulary-
    // bounded), with the 1-row totals broadcast; Theil–Sen's live
    // plan is the bounded-grid pair join + median window over the
    // checkpointed daily grid; the bootstrap pays the (type,
    // replicate) moment agg + the 5-type band window.
    // Batch 35: radius search is scan→filter→type agg (the bbox
    // envelope is filter-side, no exchange); FIFO pays the two
    // side windows + match/total aggs all on the part key (the
    // part-sized totals broadcast back); decile lift's exchanges
    // are the customer collapse + ntileExact's range sort + the
    // 10-row decile aggs, with the 1-row totals broadcast.
    "geo_radius_search" -> ((1, 0)),
    "q_fifo_allocation" -> ((4, 3)),
    "q_decile_lift" -> ((4, 1)),
    "q_anova" -> ((1, 0)),
    "q_seq_pairs" -> ((5, 1)),
    // Batch 36: silhouette is map-side off the assignment's score
    // array (k-means subtrees collect eagerly; the live plan pays
    // only the k-row cluster agg). The removal sweep's live plan is
    // the 4 unioned reach paths (p-vectors checkpointed): per
    // channel a starts-side agg + totals, every exchanged row set
    // type-vocabulary-bounded, p-vectors/totals broadcast.
    "sim_silhouette" -> ((1, 0)),
    // r13: the ten single-consumer p-vector checkpoints were dropped
    // (jobs 122 -> 62 per double run) — the p2/p3 step chains now sit
    // INLINE in the final plan, so their type-vocabulary-bounded
    // broadcast builds (≤ n_event_types rows each) count here instead
    // of hiding behind per-step materialization barriers. Audited:
    // every added broadcast is a ≤5-row p-vector or totals table.
    "q_markov_removal" -> ((16, 28)),
    // Batch 37: HITS half-steps are all checkpointed (the live plan
    // is two TakeOrdered heaps over the final score tables); the
    // KMV live plan is the pair-merge over checkpointed
    // sources×k sketches — pair fan-out joins + the pair window,
    // every row set sketch-bounded.
    "q_hits" -> ((0, 0)),
    "dd_kmv_overlap" -> ((4, 4)),
    // Native as-of join: the same exchanges the composed form pays —
    // right-side daily compaction + EnsureRequirements' two key
    // exchanges feeding the merge scan.
    "q_asof_join_native" -> ((3, 0)),
    // Batch 38: quantile normalize pays the type window + the
    // 100-row bucket aggs (ntileExact's range sort collects
    // eagerly), global table broadcast; hexbin is map-only bin math
    // + one count exchange.
    "q_quantile_normalize" -> ((2, 1)),
    "geo_hexbin" -> ((1, 0)),
    // Batch 39: feature hashing is map-side hashing + one (doc,dim)
    // exchange; link prediction pays adjacency/degree aggs, the
    // hub-capped wedge join, the anti-join and degree joins — all
    // keyed on part ids, candidates cap²-bounded per center — then
    // a TakeOrdered top-20.
    "tx_feature_hashing" -> ((1, 0)),
    "q_link_prediction" -> ((10, 0)),
    "q_theil_sen" -> ((2, 2)),
    "q_bootstrap_ci" -> ((2, 0)),
    // Batch 40: AUC/winsorize/impute all window over compacted
    // distinct-value tables; winsorize pays compaction + window
    // repartition + bounds agg + clipped re-agg with the bounds
    // broadcast; impute adds the real/imputed rollup joins (AQE
    // broadcasts both user-keyed sides at probe scale).
    "q_roc_auc" -> ((2, 0)),
    "q_winsorize" -> ((4, 1)),
    "q_impute_median" -> ((4, 2)),
    // Batch 41: inverted index pays the tf groupBy + the vocab df
    // agg + its TakeOrdered + the term posting window, selection
    // broadcast back; KN's corpus exchange is checkpointed into the
    // type table — the visible exchanges are the three on-type aggs
    // with the top-20/total sides broadcast.
    "tx_inverted_index" -> ((4, 1)),
    "tx_kn_bigram" -> ((3, 3)),
    // The scoring join adds the instance-side exchange; the model's
    // three on-type aggs broadcast into it at probe scale.
    "tx_kn_logprob" -> ((4, 4)),
    // Batch 42: A-ES sampling is map-side keys + ONE TopKAgg heap
    // exchange; SPRT is the daily collapse + the day-bounded
    // cumulative window.
    "sm_weighted_sample" -> ((1, 0)),
    "q_sprt" -> ((2, 0)),
    // Batch 43: HW folds per-type day arrays (daily collapse + the
    // type agg); survivorship aggregates the member-sized join of
    // the session-materialized CC labels (tiny side broadcast).
    "q_holt_winters" -> ((2, 0)),
    "dd_survivorship" -> ((3, 2)),
    // Batch 44 (re-planned): the scalar top-3 insertion fold is
    // map-only — zero exchanges.
    "geo_knn" -> ((0, 0)),
    // Batch 45: span decon joins the positional train stream to the
    // broadcast eval shingles + one pair rollup; freshness is two
    // max aggs with the 1-row global broadcast back.
    "dd_decontaminate_spans" -> ((1, 1)),
    "q_freshness" -> ((2, 1)),
    // Batch 46: the corpus pays only the checkpointed (type, day)
    // cell compaction; the other exchanges are |types|-bounded aggs
    // with 1-row broadcasts back.
    "q_mix_decompose" -> ((5, 3)),
    // Batch 47: both collapse the corpus once to (type, day) and
    // window/lag on the calendar-bounded table.
    "q_seasonal_decompose" -> ((2, 0)),
    "q_backtest_mae" -> ((2, 0)),
    // Batch 48: price index pays the checkpointed (brand,part,half)
    // collapse + the pivot + the brand rollup (part dim broadcast);
    // burstiness is the tf collapse + per-term moments + TakeOrdered
    // with the 1-row N broadcast.
    "q_price_index" -> ((4, 1)),
    "tx_burstiness" -> ((3, 1)),
    // Batch 49: Qini pays the per-user collapse + the decile-table
    // window (ntileExact's sort collects eagerly); blocking eval's
    // counts run eagerly too, the returned frame is one literal row.
    "q_uplift_qini" -> ((2, 0)),
    "dd_blocking_eval" -> ((0, 0)),
    // Batch 50: contingency pays the checkpointed cell collapse +
    // two margin aggs (margins + total broadcast back); speed audit
    // is one user-keyed window + a map-side-combined rollup.
    "q_contingency" -> ((3, 3)),
    "geo_speed_audit" -> ((1, 0)),
    // Batch 51: dedup report aggregates the member join of the
    // session-materialized labels + the per-source rollup (labels
    // broadcast); cycle time pays the order join + the compacted
    // lag window.
    "dd_dedup_report" -> ((3, 1)),
    "q_cycle_time" -> ((2, 1)),
    // Batch 52: per-part collapse (ntileExact collects its range
    // sort eagerly) + the checkpointed 100-row tile table's window
    // and class rollup, totals broadcast twice.
    "q_abc" -> ((3, 2)),
    // Batch 53: NDR's collapse/rollup run behind checkpoints (the
    // visible plan is the broadcast denominator join); power
    // analysis is one map-side-combined moment agg.
    "q_ndr" -> ((0, 1)),
    "q_power_analysis" -> ((1, 0)),
    // Round-10 batch 65: Kruskal/Friedman checkpoint their bounded
    // rank tables (cent-table / calendar×k frame) so the live plans
    // pay only the k-row folds; Wilcoxon's live plan is the user
    // pair agg + the |d| group agg (rankExact's sort runs eagerly);
    // BH runs entirely on the k-row p family after one moment agg.
    "q_kruskal_wallis" -> ((2, 2)),
    "q_wilcoxon_signed_rank" -> ((2, 0)),
    "q_friedman" -> ((2, 2)),
    "q_bh_fdr" -> ((1, 1)),
    // Batch 66: every exchange past the one cell/moment/flag agg
    // moves vocabulary-bounded cell tables (≤ |langs|×|sources| or
    // 6 flag×status cells) or 1-row totals — margin/entropy branches
    // re-fold the checkpointed cells, hence the count, not the bytes.
    "q_cramers_v" -> ((5, 3)),
    "q_mutual_info" -> ((10, 7)),
    "q_partial_corr" -> ((1, 0)),
    "q_capture_recapture" -> ((2, 0)),
    // Batch 67: eigen centrality pays the D44 edge build plus per
    // power iteration exactly the src rank join + dst contribution
    // agg + the node left join (normalizer broadcast back, lineage
    // truncated every 2nd iteration); powerlaw is degree agg +
    // histogram agg + the 1-row MLE broadcast.
    "q_eigen_centrality" -> ((22, 4)),
    "q_degree_powerlaw" -> ((2, 1)),
    // Batch 68: WAV encode+decode is map-only (payloads never
    // shuffle); cross entropy pays the train vocab agg + the eval
    // source collapse with the (N,V) denominator broadcast.
    "mm_audio_wav" -> ((0, 0)),
    "tx_cross_entropy" -> ((2, 2)),
    // Batch 69: odds ratio / TOST / Poisson rate are one user-flag
    // or moment agg + a 1-row fold; Bollinger pays the daily
    // collapse + the type-partitioned window repartition.
    "q_odds_ratio" -> ((2, 0)),
    "q_tost" -> ((2, 0)),
    "q_poisson_rate" -> ((1, 0)),
    "q_bollinger" -> ((2, 0)),
    // Batch 70: LLR pays the checkpointed bigram count's two
    // vocabulary-bounded margin aggs + the TakeOrdered; grouped
    // kfold is the checkpointed map-only tag + two 5-row-keyed aggs.
    "tx_colloc_llr" -> ((3, 3)),
    "sm_group_kfold" -> ((3, 1)),
    // Batch 71: PACF pays the daily collapse + the type-partitioned
    // lag window with the type-mean broadcast; Hurst's window/agg
    // chain runs on the checkpointed ~31-row daily index (live plan
    // is the 3-row R/S folds); TextRank is the D44 PageRank shape
    // on the vocabulary-bounded word graph (2 exchanges per
    // iteration + the edge build, checkpoints every 2nd iteration);
    // resize decode is map-only (payloads never shuffle).
    "q_pacf" -> ((2, 1)),
    "q_hurst" -> ((1, 1)),
    "tx_textrank" -> ((15, 12)),
    "mm_resize_real" -> ((0, 0)),
    // Batch 72: AVI parse + sampled JPEG decode are map-only.
    "mm_video_frames" -> ((0, 0)),
    // Batch 73: both collapse to the calendar-bounded daily table
    // (one exchange) and fold with the 1-row moment/OLS broadcast.
    "q_newey_west" -> ((2, 1)),
    "q_engle_granger" -> ((2, 1)))

  test("every batch registry query has a pinned exchange budget") {
    val batch = Registry.all.filterNot(_.name.startsWith("st_")).map(_.name)
    val missing = batch.filterNot(budget.contains)
    assert(missing.isEmpty,
      s"queries without an exchange budget (run PlanCheck budget and add them): $missing")
  }

  test("no batch registry query exceeds its exchange budget") {
    val batch = Registry.all.filterNot(_.name.startsWith("st_"))
    val offenders = batch.flatMap { q =>
      budget.get(q.name).flatMap { case (maxS, maxB) =>
        val (s, b) = PlanCheck.exchangeCounts(q.fn(tables))
        if (s > maxS || b > maxB)
          Some(s"${q.name}: shuffle $s (max $maxS), broadcast $b (max $maxB)")
        else None
      }
    }
    assert(offenders.isEmpty, s"exchange budget exceeded:\n${offenders.mkString("\n")}")
  }
}
