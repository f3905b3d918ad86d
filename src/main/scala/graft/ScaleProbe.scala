package graft


/** Diagnostic main for the §8 scale-knob measurements:
  *
  *   - `runMain graft.ScaleProbe semantic <sfDir> <k> [iters] [threshold] [runs]`
  *     times `Similarity.semanticPairs` at a caller-chosen cluster
  *     count (the E11 k ∝ N contract);
  *   - `runMain graft.ScaleProbe neardup <sfDir> <planes> [threshold] [runs]`
  *     times `Similarity.embeddingNearDup` at a caller-chosen
  *     hyperplane count (the E8 planes ∝ log₂N contract — bucket
  *     occupancy, hence within-bucket pair work, is N/2^planes).
  *
  * Exists to MEASURE the documented scale knobs: both registry rows
  * pin their blocking parameter for oracle determinism; this main is
  * how the scaling claims were turned into SURVEY §8 numbers
  * (round 6).
  */
object ScaleProbe {
  /** `runMain graft.ScaleProbe query <name>[,<name>…] <sfDir> [runs]`
    * — time any registry query in the Bench session shape (min of
    * `runs`, default 2). The single-query iteration loop Bench's
    * full sweep is too slow for.
    */
  private def queryMain(names: String, sfDir: String, runs: Int): Unit = {
    val spark = GraftSession.fromEnv("graft-scaleprobe")
    names.split(",").foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[scaleprobe] $name run $i: $t%.3f s ($n rows)")
        t
      }
      println(f"[scaleprobe] $name min=${times.min}%.3f s")
    }
    spark.stop()
  }

  /** `runMain graft.ScaleProbe streamfloor <sfDir> [runs]` — time the
    * bare StreamingQuery lifecycle (stateless single-batch
    * passthrough, the registry streams' exact session tuning). The
    * §8 streaming fixed-cost table's "irreducible floor" row.
    */
  private def streamFloorMain(sfDir: String, runs: Int): Unit = {
    val spark = GraftSession.fromEnv("graft-scaleprobe")
    val times = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      graft.queries.StreamQueries.stNoopFloor(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[scaleprobe] stream_floor run $i: $t%.3f s")
      t
    }
    println(f"[scaleprobe] stream_floor min=${times.min}%.3f s")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("streamfloor")) {
      streamFloorMain(args(1), if (args.length > 2) args(2).toInt else 3)
      return
    }
    if (args.headOption.contains("query")) {
      queryMain(args(1), args(2), if (args.length > 3) args(3).toInt else 2)
      return
    }
    require(args.length >= 3 &&
      Set("semantic", "neardup", "semantic_auto", "neardup_auto", "semantic_hier")(args(0)),
      "usage: ScaleProbe semantic|neardup|semantic_auto|neardup_auto|semantic_hier <sfDir> <k|planes|target> [...] | query <name> <sfDir> [runs]")
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
    val times = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      val n = pairs().count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[scaleprobe] ${args(0)} k=$k run $i: $t%.3f s ($n pairs)")
      t
    }
    println(f"[scaleprobe] ${args(0)} k=$k min=${times.min}%.3f s")
    spark.stop()
  }
}
