package graft

import graft.queries.Registry

/** Partition-count invariance guard: a distributed plan whose ANSWER
  * depends on `spark.sql.shuffle.partitions` is broken at 100 TB —
  * the cluster will never run the local partition count. Every
  * fixed-point/integer design in the registry claims
  * order-independence; this spec holds a risky-shape sample of them
  * to it by re-running under a co-prime partition count and
  * requiring BIT-identical row sets (string-canonical, no
  * tolerance). Shapes sampled: range-partitioned exact ntiles,
  * two-phase prefix sums, iterative graph ops, window argmaxes,
  * LSH banding, greedy unrolls, checkpointed CC, sweep lines.
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val sample = Seq(
    "q_rfm",             // chained GlobalRank.ntileExact
    "sm_token_budget_mix", // N9 two-phase prefix sum
    "q_mann_whitney",    // two-phase rank prefix
    "tx_winnowing",      // native map-only (control)
    "dd_minhash_lsh",    // banded LSH pairs
    "q_label_prop",      // iterative LPA with checkpoints
    "sim_mmr",           // unrolled greedy with rounded compares
    "q_ks_test",         // grid-fill + per-type cum windows
    "q_lorenz",          // decile tiling + bounded cumsum
    "q_percent_rank",    // per-key rank windows
    "q_pagerank",        // fixed-point iterative ranks
    "q_peak_concurrency", // sweep line with tie rules
    "geo_grid_cluster",  // density gate + CC merge
    "q_attribution",     // remainder-pinned credit split
    "sm_epoch_shuffle")  // LCG permutation + shard windows

  private def canon(name: String): Seq[String] = {
    val df = Registry.all.find(_.name == name).get.fn(tables)
    df.collect().map(_.toString).sorted.toSeq
  }

  test("sampled queries are bit-identical under a co-prime partition count") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val baseline = sample.map(n => n -> canon(n)).toMap
    try {
      spark.conf.set(key, "7")
      sample.foreach { n =>
        assert(canon(n) == baseline(n), s"$n diverged at 7 shuffle partitions")
      }
    } finally spark.conf.set(key, prev)
  }
}
