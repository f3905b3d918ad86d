package graft


/** Diagnostic main for the §8 scale-knob measurements:
  *
  *   - `runMain graft.ScaleProbe semantic <sfDir> <k> [iters] [threshold] [runs]`
  *     times `Similarity.semanticPairs` at a caller-chosen cluster
  *     count (the E11 k ∝ N contract);
  *   - `runMain graft.ScaleProbe neardup <sfDir> <planes> [threshold] [runs]`
  *     times `Similarity.embeddingNearDup` at a caller-chosen
  *     hyperplane count (the E8 planes ∝ log₂N contract — bucket
  *     occupancy, hence within-bucket pair work, is N/2^planes);
  *   - `runMain graft.ScaleProbe streamfloor <sfDir> [runs]` times the
  *     bare StreamingQuery lifecycle (one stateless passthrough
  *     micro-batch, the registry streams' session tuning): the §8
  *     streaming fixed-cost table's "irreducible floor" row.
  *
  * Exists to MEASURE the documented scale knobs: both registry rows
  * pin their blocking parameter for oracle determinism; this main is
  * how the scaling claims were turned into SURVEY §8 numbers
  * (round 6).
  */
object ScaleProbe {
  /** Runs `count` `runs` times on the caller's session, printing each
    * run's seconds and the min.
    */
  private def timeRuns(label: String, runs: Int)(count: => Long): Unit = {
    val times = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      val n = count
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[scaleprobe] $label run $i: $t%.3f s ($n rows)")
      t
    }
    println(f"[scaleprobe] $label min=${times.min}%.3f s")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("streamfloor")) {
      val spark = GraftSession.fromEnv("graft-scaleprobe")
      timeRuns("stream_floor", if (args.length > 2) args(2).toInt else 3)(
        graft.queries.StreamQueries.stNoopFloor(Tables(spark, args(1))).count())
      spark.stop()
      return
    }
    require(args.length >= 3 &&
      Set("semantic", "neardup", "semantic_auto", "neardup_auto", "semantic_hier")(args(0)),
      "usage: ScaleProbe semantic|neardup|semantic_auto|neardup_auto|semantic_hier <sfDir> <k|planes|target> [...] | streamfloor <sfDir> [runs]")
    val sfDir = args(1)
    // For the *_auto modes this is the TARGET cluster/bucket size
    // (the knob itself derives from the data count).
    val k = args(2).toInt
    val isSemantic = args(0).startsWith("semantic")
    // Positional args differ per mode family: `iters` exists only
    // for semantic modes (for neardup modes, args(3) is the
    // threshold).
    val iters = if (isSemantic && args.length > 3) args(3).toInt else 2
    val threshold =
      if (isSemantic) { if (args.length > 4) args(4).toDouble else 0.35 }
      else { if (args.length > 3) args(3).toDouble else 0.35 }
    val runs =
      if (isSemantic) { if (args.length > 5) args(5).toInt else 2 }
      else { if (args.length > 4) args(4).toInt else 2 }
    val spark = GraftSession.fromEnv("graft-scaleprobe")
    val emb = Tables(spark, sfDir).embeddings
    def pairs() = args(0) match {
      case "semantic" =>
        graft.operators.Similarity
          .semanticPairs(emb, "vec_id", "embedding", k, iters, threshold)
      case "neardup" =>
        graft.operators.Similarity.embeddingNearDup(
          emb, "vec_id", "embedding", dim = 64, planes = k,
          threshold = threshold, seed = 42L)
      case "semantic_auto" =>
        graft.operators.Similarity.semanticPairsAuto(
          emb, "vec_id", "embedding", iters, threshold, targetClusterSize = k)
      case "neardup_auto" =>
        graft.operators.Similarity.embeddingNearDupAuto(
          emb, "vec_id", "embedding", dim = 64, threshold = threshold,
          targetBucketSize = k, seed = 42L)
      case "semantic_hier" =>
        graft.operators.Similarity.semanticPairsHier(
          emb, "vec_id", "embedding", iters, threshold, targetClusterSize = k)
    }
    timeRuns(s"${args(0)} k=$k", runs)(pairs().count())
    spark.stop()
  }
}
