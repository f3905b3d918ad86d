package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design: the brute-force path broadcasts the (small) query
  * set and makes ONE pass over the base table — at 100 TB that is
  * a map-only scan followed by a per-query top-k shuffle of only
  * k·|queries| rows (AQE-coalesced). The LSH path buckets both
  * sides by random-hyperplane sign bits so candidate generation
  * shuffles on bucket keys, never materializing all N² pairs.
  */
object Similarity {

  /** All math in double: float inputs are widened before any
    * multiply so results are bit-reproducible in other engines.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), (acc, v) => acc + v))

  /** Native codegen'd cosine (identical arithmetic; see CosineSim). */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** Brute-force exact cosine top-k: every base vector scored
    * against every query vector (queries broadcast), then
    * row_number per query. Ties broken by base id for determinism.
    */
  def cosineTopK(
      base: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val b = base.select(col(idCol).as("base_id"), col(vecCol).as("base_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = b
      .join(broadcast(q), col("base_id") =!= col("query_id"))
      .withColumn("score", round(cosine(col("base_vec"), col("query_vec")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("base_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("base_id"), col("score"), col("rank"))
  }

  /** The seeded hyperplane matrix — exposed to `private[graft]` so
    * oracle SQL can embed the SAME constants as literals.
    */
  private[graft] def hyperplanes(dim: Int, planes: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane signature: `planes` sign bits packed into a
    * long. Hyperplane components are seeded pseudo-random literals —
    * deterministic across runs and engines.
    */
  def hyperplaneSig(vec: Column, dim: Int, planes: Int, seed: Long): Column = {
    val hp: Seq[Seq[Double]] = hyperplanes(dim, planes, seed)
    // One array-of-arrays literal + nested HOF loop instead of
    // `planes` unrolled dot products: keeps the expression (and the
    // generated code) O(1) in `planes`.
    val mat = typedlit(hp)
    val bits = zip_with(mat, sequence(lit(0), lit(planes - 1)),
      (plane, i) =>
        when(dot(vec, plane) > 0, call_function("shiftleft", lit(1L), i.cast("int")))
          .otherwise(0L))
    aggregate(bits, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** ANN via LSH buckets: vectors sharing a hyperplane-sign bucket
    * in ANY of `tables` independent hash tables are candidates;
    * exact cosine only within candidates; top-k per query. Recall
    * grows with more tables (each an independent chance to collide)
    * — the standard multi-table construction the single-table
    * skeleton scales into. Candidates stay bucket-joined: signatures
    * for all tables ride in ONE array column, the bucket join is on
    * (table, bucket), and N² pairs are never materialized.
    */
  def lshAnn(
      base: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int,
      k: Int,
      seed: Long = 42L,
      tables: Int = 1
  ): DataFrame = {
    val sigs = (vec: Column) =>
      array((0 until tables).map(t =>
        hyperplaneSig(vec, dim, planes, seed + t)): _*)
    val explodeTables = (df: DataFrame, id: String, vec: String) =>
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          posexplode(sigs(col(vecCol))).as(Seq(s"${id}_table", s"${id}_bucket")))
    val b = explodeTables(base, "base_id", "base_vec")
    val q = explodeTables(queries, "query_id", "query_vec")
    val candidates = b
      .join(broadcast(q),
        col("base_id") =!= col("query_id") &&
          col("base_id_table") === col("query_id_table") &&
          col("base_id_bucket") === col("query_id_bucket"))
      // a pair colliding in several tables is still ONE candidate
      .select(col("query_id"), col("base_id"), col("query_vec"), col("base_vec"))
      .dropDuplicates("query_id", "base_id")
    val scored = candidates
      .withColumn("score", round(cosine(col("base_vec"), col("query_vec")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("base_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("base_id"), col("score"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucket candidate
    * generation (vectors agreeing on every hyperplane sign bit) then
    * the exact cosine filter — the embedding-space member of the
    * dedup suite. The self-join shuffles on the bucket key only and
    * ReuseExchange computes the signature subtree once; N² pairs are
    * never materialized. Deterministic end-to-end (seeded planes,
    * rounded scores), so it carries a full SQL oracle.
    */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int,
      threshold: Double,
      seed: Long = 42L
  ): DataFrame = {
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      hyperplaneSig(col(vecCol), dim, planes, seed).as("bucket"))
    sig.as("a")
      .join(sig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cosine", round(cosine(col("a.vec"), col("b.vec")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** [[embeddingNearDup]] with the SELF-SCALING plane count the
    * 100 TB path needs: `planes = ceil(log₂(N / targetBucketSize))`
    * from one cheap count (parquet metadata count-star when the
    * input is a bare scan), so expected bucket occupancy — and with
    * it the within-bucket quadratic — stays ~`targetBucketSize` as
    * the data grows instead of exploding at a pinned constant. The
    * pinned-knob overload remains for oracle determinism (the E8
    * registry row pins planes=6 and points here).
    */
  def embeddingNearDupAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      targetBucketSize: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    require(targetBucketSize >= 1, "targetBucketSize must be >= 1")
    val n = df.count()
    val planes = math.max(1, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt)
    embeddingNearDup(df, idCol, vecCol, dim, planes, threshold, seed)
  }

  /** IVF (inverted-file) ANN search: per-label centroids are the
    * coarse quantizer; each query probes its `nprobe` nearest
    * centroids and exact cosine runs ONLY over the probed labels'
    * vectors. At scale: centroids are |labels|·dim (broadcast), the
    * probe assignment is a broadcast nested-loop over that tiny
    * table, and the search is a broadcast join on label — the base
    * table is never shuffled and never fully scored. Centroid dims
    * round to 4 dp so the quantizer is reproducible cross-engine
    * (deterministic → full SQL oracle, unlike the random-hyperplane
    * path).
    */
  def ivfAnn(
      base: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      nprobe: Int,
      k: Int
  ): DataFrame = {
    val cents = base
      .select(col(labelCol).as("clabel"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy(col("clabel"), col("d"))
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy(col("clabel"))
      .agg(sort_array(collect_list(struct(col("d"), col("c")))).as("dc"))
      .select(col("clabel"), transform(col("dc"), s => round(s.getField("c"), 4)).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("clabel"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cscore", round(cosine(col("qv"), col("cvec")), 4))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("clabel").as("label"))
    val b = base.select(col(labelCol).as("label"), col(idCol).as("base_id"), col(vecCol).as("bv"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("base_id"))
    b.join(broadcast(probes), Seq("label"))
      .filter(col("base_id") =!= col("query_id"))
      .withColumn("score", round(cosine(col("qv"), col("bv")), 4))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("base_id"), col("score"), col("rank"))
  }

  /** Lloyd's k-means over the embedding column — the semantic-
    * clustering primitive (cluster-then-curate / SemDeDup-style
    * dedup buckets, IVF coarse-quantizer training). Deterministic
    * end-to-end: init centroids are the `k` lowest-id vectors,
    * assignment is argmax cosine with 4-dp rounding and first-index
    * tie-break, recomputed centroids round to 4 dp — so the whole
    * trajectory is engine-reproducible and fully SQL-oracled.
    *
    * Scale shape (the same one MLlib KMeans uses): per iteration,
    * ONE map-only assignment pass with the k·dim centroid matrix as
    * a broadcast literal (no join, no shuffle of the base table)
    * plus ONE aggregation whose shuffle width is k·dim partial
    * sums — independent of N. Centroids ride through the driver
    * between iterations (k·dim doubles, bytes).
    *
    * Returns (id, cluster ∈ 1..k, score) for the final assignment.
    */
  def kmeans(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): DataFrame =
    kmeansAssign(df, idCol, vecCol, k, iters)
      .select(col("id"), col("cluster"), col("score"))

  /** Final Lloyd assignment INCLUDING the vector column — the
    * blocking input [[semanticPairs]] builds on.
    */
  private[graft] def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): DataFrame = kmeansModel(df, idCol, vecCol, k, iters)._1

  /** [[kmeansAssign]] plus the centroid matrix that PRODUCED the
    * final assignment — the trained coarse quantizer
    * [[ivfAnnTrained]] probes with (cluster i ∈ 1..k ↔ row i−1).
    */
  private[graft] def kmeansModel(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): (DataFrame, Seq[Seq[Double]]) = {
    require(k >= 1 && iters >= 1, "k and iters must be >= 1")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    // Deterministic seeding: the k lowest-id vectors (k rows to the
    // driver — the k-means++ analogue a reproducible pipeline wants).
    var centroids: Seq[Seq[Double]] = base.orderBy(col("id")).limit(k)
      .select(transform(col("vec"), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    // Fewer vectors than k (including zero): cluster over what exists
    // rather than failing — day-one and thin-partition inputs are
    // normal at scale, not errors.
    if (centroids.isEmpty)
      return (base.withColumn("cluster", lit(0L)).withColumn("score", lit(0.0))
        .withColumn("scores", array().cast("array<double>")).limit(0), Seq.empty)
    val effK = centroids.size
    def assigned = {
      val mat = typedlit(centroids)
      val scores = transform(mat, c => round(cosine(col("vec"), c), 4))
      base.select(col("id"), col("vec"), scores.as("scores"))
        .withColumn("cluster", array_position(col("scores"), array_max(col("scores"))))
        .withColumn("score", array_max(col("scores")))
    }
    for (_ <- 1 until iters) {
      // Recompute: (cluster, d) partial means — k·dim shuffle rows.
      val cents = assigned
        .select(col("cluster"), posexplode(col("vec")).as(Seq("d", "v")))
        .groupBy(col("cluster"), col("d"))
        .agg(round(avg(col("v").cast("double")), 4).as("c"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("d"), col("c")))).as("dc"))
        .select(col("cluster"), transform(col("dc"), s => s.getField("c")).as("cvec"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
      require(cents.size == effK,
        s"kmeans: iteration left ${effK - cents.size} cluster(s) empty; " +
          "seed vectors do not spread over this data")
      centroids = (1 to effK).map(i => cents(i.toLong))
    }
    (assigned.select(col("id"), col("vec"), col("cluster"), col("score"), col("scores")),
      centroids)
  }

  /** IVF ANN with a TRAINED coarse quantizer (r13): cells are
    * [[kmeans]]'s final Lloyd assignment and the probe centroids
    * are the matrix that produced it — versus [[ivfAnn]]'s
    * label-derived cells, whose per-label centroids need not
    * reflect the embedding geometry at all (the r12 `sim_ivf_eval`
    * row measured 28% recall for label cells at nprobe=2 on this
    * corpus; geometric cells are what IVF actually ships with).
    * Deterministic end-to-end (lowest-id seeding, 4-dp rounding,
    * index tie-breaks) → fully SQL-oracled like [[ivfAnn]].
    *
    * Scale shape: training is [[kmeans]]'s (map-only assignment +
    * k·dim-wide aggregate per iteration); search is the [[ivfAnn]]
    * plan — k·dim centroids broadcast, probe assignment a broadcast
    * nested-loop over that tiny table, exact scoring a broadcast
    * join on cell id. The base table never shuffles end-to-end.
    */
  def ivfAnnTrained(
      base: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      nprobe: Int,
      topK: Int
  ): DataFrame = {
    val (assigned, cents) = kmeansModel(base, idCol, vecCol, k, iters)
    ivfSearchTrained(
      assigned.select(col("cluster"), col("id").as("base_id"), col("vec").as("bv")),
      cents, queries, idCol, vecCol, nprobe, topK)
  }

  /** Search stage of [[ivfAnnTrained]] over an ALREADY-TRAINED model
    * — `cells` = (cluster, base_id, bv), `cents` = the centroid
    * matrix (row i ↔ cluster i+1). Separated so an eval sweeping
    * nprobe trains once and probes many times.
    */
  private[graft] def ivfSearchTrained(
      cells: DataFrame,
      cents: Seq[Seq[Double]],
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      topK: Int
  ): DataFrame = {
    require(cents.nonEmpty, "ivf search needs a non-empty centroid model")
    val spark = cells.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("cluster", "cvec")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cluster"))
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("cscore", round(cosine(col("qv"), col("cvec")), 4))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cluster"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("base_id"))
    cells.join(broadcast(probes), Seq("cluster"))
      .filter(col("base_id") =!= col("query_id"))
      .withColumn("score", round(cosine(col("qv"), col("bv")), 4))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("base_id"), col("score"), col("rank"))
  }

  /** Simplified (centroid) silhouette per cluster — the clustering
    * quality gauge for [[kmeans]]'s assignment: per vector,
    * a = 1 − cos(own centroid), b = 1 − cos(second-best centroid)
    * (b ≥ a by construction), s = (b − a)/b = (cos₁ − cos₂)/(1 − cos₂)
    * ∈ [0, 1]; reported as each cluster's exact mean ×10⁶
    * (per-vector s quantized to ppm BIGINT first so the mean is an
    * integer division — no engine-ordered double summation).
    *
    * Scale shape: the full-centroid score ARRAY is already on every
    * row from the Lloyd assignment (k-bounded), so s₁/s₂ are
    * map-side `sort_array` picks — no explode, no per-vector window;
    * the only exchange is the k-row cluster aggregate. Degenerate
    * cases pin s = 0 (single cluster: no second centroid; coincident
    * best/second at cos = 1: 0/0).
    */
  def silhouette(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int
  ): DataFrame = {
    val a = kmeansAssign(df, idCol, vecCol, k, iters)
    a.select(col("cluster"), col("score").as("s1"),
        element_at(sort_array(col("scores"), asc = false), 2).as("s2"))
      .withColumn("sfx", expr(
        """CASE WHEN s2 IS NULL OR 1.0 - s2 = 0.0 THEN 0
          | ELSE CAST(round((s1 - s2) / (1.0 - s2) * 1000000) AS BIGINT)
          | END""".stripMargin))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(sfx) div count(1)").as("mean_sil_ppm"))
  }

  /** SemDeDup-style semantic near-dup pairs: k-means clusters as the
    * blocking key (finer k → fewer candidate pairs), exact cosine ≥
    * `threshold` only WITHIN a cluster. Candidate width is
    * Σ |cluster|² instead of N² — at scale k grows with N to hold
    * per-cluster size constant, exactly how SemDeDup shards its
    * pairwise pass. Deterministic end-to-end (seeded clustering,
    * rounded scores) → full SQL oracle.
    */
  def semanticPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      threshold: Double
  ): DataFrame = {
    // The clustering pass is the expensive stage — materialize once
    // (non-shuffle barrier) so the self-join's two sides don't each
    // recompute the assignment subtree.
    val assigned = kmeansAssign(df, idCol, vecCol, k, iters)
      .select(col("id"), col("vec"), col("cluster"))
      .localCheckpoint(true)
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .withColumn("cosine", round(cosine(col("a.vec"), col("b.vec")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cluster").as("cluster"), col("cosine"))
  }

  /** [[semanticPairs]] with the SELF-SCALING cluster count the
    * SemDeDup contract requires: `k = ceil(N / targetClusterSize)`
    * from one cheap count, keeping per-cluster size — and the
    * per-cluster pairwise pass — constant as N grows. Past the point
    * where k itself is large, the quadratic moves into Lloyd
    * assignment (k·N distance evaluations); go hierarchical via
    * [[ivfAnn]] blocking there. The pinned-knob overload remains for
    * oracle determinism (the E11 registry row pins k=16 and points
    * here).
    */
  def semanticPairsAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int,
      threshold: Double,
      targetClusterSize: Int = 256
  ): DataFrame = {
    require(targetClusterSize >= 1, "targetClusterSize must be >= 1")
    val n = df.count()
    val k = math.max(1, math.ceil(n.toDouble / targetClusterSize).toInt)
    semanticPairs(df, idCol, vecCol, k, iters, threshold)
  }

  /** Hierarchical SemDeDup — [[semanticPairsAuto]] with the Lloyd-
    * assignment quadratic removed. Flat SemDeDup must grow k ∝ N to
    * hold cluster size constant, so assignment costs k·N ∝ N²
    * cosine evaluations. This is the documented E11 limit; the escape
    * is the IVF two-level shape (the F4 coarse quantizer): ~√k coarse
    * centroids assign every vector (√k·N evals), then each coarse
    * cell trains its own ~k/√k sub-centroids and re-assigns only ITS
    * members (another ~√k·N) — O(N·√k) ≈ O(N^1.5/√target) total,
    * while the final (coarse, sub) cell still holds
    * ~targetClusterSize vectors so the pairwise pass stays linear.
    *
    * Spark shape: both levels are map-only assignment passes against
    * broadcast centroid literals (the sub level dispatches per-row
    * through `element_at(map, cluster)`, so each row evaluates ONLY
    * its own cell's sub-centroids); recompute shuffles are k·dim
    * partial sums, independent of N. Deterministic end-to-end, same
    * conventions as the flat path: lowest-id seeds per cell, 4-dp
    * rounded scores, first-index tie-break; empty sub-cells keep
    * their previous centroid.
    */
  def semanticPairsHier(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      iters: Int,
      threshold: Double,
      targetClusterSize: Int = 256
  ): DataFrame = {
    require(targetClusterSize >= 1, "targetClusterSize must be >= 1")
    val n = df.count()
    val k = math.max(1, math.ceil(n.toDouble / targetClusterSize).toInt)
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(k.toDouble / kc).toInt)
    // Level 1: coarse assignment (√k centroids). Checkpointed — it
    // seeds sub-training, every Lloyd pass, and the final join.
    val coarse = kmeansAssign(df, idCol, vecCol, kc, iters)
      .select(col("id"), col("vec"), col("cluster"))
      .localCheckpoint(true)
    // Sub-seeds: the k2 lowest-id vectors of each coarse cell
    // (k·dim doubles through the driver — centroid-sized, not data).
    val wSeed = Window.partitionBy(col("cluster")).orderBy(col("id"))
    var subCents: Map[Long, Seq[Seq[Double]]] = coarse
      .withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= k2)
      .select(col("cluster"), col("rn"),
        transform(col("vec"), x => x.cast("double")).as("v"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (cl, rows) =>
        cl -> rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toSeq).toSeq
      }
    if (subCents.isEmpty)
      return coarse.select(col("id").as("id_a"), col("id").as("id_b"),
        col("cluster"), lit(0.0).as("cosine")).limit(0)
    def assignedSub = {
      val mapLit = typedlit(subCents)
      val cents = element_at(mapLit, col("cluster"))
      val scores = transform(cents, c => round(cosine(col("vec"), c), 4))
      coarse
        .withColumn("scores", scores)
        .withColumn("sub", array_position(col("scores"), array_max(col("scores"))))
        .drop("scores")
    }
    for (_ <- 1 until iters) {
      // Recompute per (coarse, sub, d): k·dim shuffle rows total.
      val recomputed = assignedSub
        .select(col("cluster"), col("sub"), posexplode(col("vec")).as(Seq("d", "v")))
        .groupBy(col("cluster"), col("sub"), col("d"))
        .agg(round(avg(col("v").cast("double")), 4).as("c"))
        .groupBy(col("cluster"), col("sub"))
        .agg(sort_array(collect_list(struct(col("d"), col("c")))).as("dc"))
        .select(col("cluster"), col("sub"),
          transform(col("dc"), s => s.getField("c")).as("cvec"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2).toSeq)
        .toMap
      subCents = subCents.map { case (cl, cs) =>
        cl -> cs.zipWithIndex.map { case (old, i) =>
          recomputed.getOrElse((cl, (i + 1).toLong), old)
        }
      }
    }
    val blocked = assignedSub.localCheckpoint(true)
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.sub") === col("b.sub") &&
          col("a.id") < col("b.id"))
      .withColumn("cosine", round(cosine(col("a.vec"), col("b.vec")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.cluster").as("cluster"), col("cosine"))
  }

  /** Per-label centroids (the coarse-quantizer build step of an IVF
    * index): posexplode to (label, dim) partial sums — shuffle width
    * is |labels|·dim, independent of N.
    */
  /** Product-quantization code assignment — the fine quantizer that
    * pairs with the IVF coarse quantizer ([[ivfAnn]]): the vector
    * splits into `m` subvectors, each encoded as the id of its
    * nearest (L2) codebook centroid, compressing dim·4 bytes to `m`
    * small ints. Codebooks here are the 4-dp-rounded per-label
    * centroids restricted to each subvector (deterministic, same
    * derivation as IVF; a production system would train them with
    * k-means — [[kmeans]] — which changes the constants, not the
    * shape). Codebooks collect through the driver (codebook-sized)
    * and fold as ONE nested literal per subvector: the encode scan
    * is map-only, zero shuffle — at 100 TB the base table is read
    * once and never moved.
    */
  def pqCodes(base: DataFrame, idCol: String, vecCol: String, labelCol: String, m: Int): DataFrame = {
    val cents = base
      .select(col(labelCol).as("clabel"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy(col("clabel"), col("d"))
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy(col("clabel"))
      .agg(sort_array(collect_list(struct(col("d"), col("c")))).as("dc"))
      .select(col("clabel"),
        transform(col("dc"), s => round(s.getField("c"), 4)).as("cvec"))
      .orderBy(col("clabel"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    if (cents.isEmpty)
      // Empty input: no codebook to train, no vectors to encode —
      // empty result with the full output schema, not a crash.
      return base.select(col(idCol) +:
        (0 until m).map(j => lit(-1).as(s"c$j")) :+
        lit(0.0).as("recon_err"): _*).limit(0)
    val dim = cents.head._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val vec = col(vecCol)
    def bestCode(j: Int) = {
      val codebook = typedLit(cents.map { case (l, v) =>
        (l, v.slice(j * sub, (j + 1) * sub))
      }.toSeq)
      aggregate(codebook,
        struct(lit(Double.MaxValue).as("d2"), lit(-1).as("code")),
        (acc, c) => {
          val d2 = aggregate(
            zip_with(slice(vec, j * sub + 1, sub), c.getField("_2"),
              (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
            lit(0.0), (s, x) => s + x)
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), c.getField("_1").as("code"))).otherwise(acc)
        })
    }
    base.select(col(idCol) +: (0 until m).map(j => bestCode(j).as(s"b$j")): _*)
      .select(col(idCol) +:
        (0 until m).map(j => col(s"b$j.code").as(s"c$j")) :+
        round(sqrt((0 until m).map(j => col(s"b$j.d2")).reduce(_ + _)), 4)
          .as("recon_err"): _*)
  }

  /** Hybrid retrieval: fuse a lexical (BM25) candidate list and a
    * vector (cosine) candidate list with reciprocal-rank fusion,
    * `rrf = Σ 1/(rrfK + rank)` over the lists a doc appears in.
    *
    * Scale shape: each list is already bounded (top-`nCandidates`
    * via per-partition heaps), so ranking windows and the outer
    * join run over ≤ 2·nCandidates rows — constant-size, never
    * corpus-size. The corpus is scanned once per modality, which is
    * the irreducible cost of hybrid search without an index.
    */
  def rrfFuse(
      lexRanked: DataFrame, // (id, r_lex) — rank 1..n
      vecRanked: DataFrame, // (id, r_vec)
      k: Int,
      rrfK: Double = 60.0
  ): DataFrame = {
    def contrib(r: Column) = coalesce(lit(1.0) / (lit(rrfK) + r), lit(0.0))
    lexRanked
      .join(vecRanked, Seq("id"), "outer")
      .select(
        col("id"),
        round(contrib(col("r_lex")) + contrib(col("r_vec")), 6).as("rrf"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_vec"), lit(0L)).as("r_vec"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("d", "v")))
      .groupBy(col("label"), col("d"))
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy(col("label"))
      .agg(
        round(sqrt(sum(col("c") * col("c"))), 4).as("centroid_norm"),
        count(lit(1)).as("dim"))

  /** Brute-force exact maximum-inner-product top-k (MIPS — the
    * retrieval objective for unnormalized embeddings, where cosine
    * top-k is wrong whenever vector norms carry signal). Same plan
    * shape as [[cosineTopK]]: queries broadcast, scores map-side,
    * row_number per query, base-id tie-break.
    */
  def mipsTopK(
      base: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val b = base.select(col(idCol).as("base_id"), col(vecCol).as("base_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = b
      .join(broadcast(q), col("base_id") =!= col("query_id"))
      .withColumn("score", round(dot(col("base_vec"), col("query_vec")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("base_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("base_id"), col("score"), col("rank"))
  }

  /** The MIPS → cosine reduction (the asymmetric augmentation from
    * the published MIPS-ANN literature): append
    * `sqrt(M² − ‖x‖²)` to every base vector (M = max base norm) and
    * `0` to every query. Augmented base vectors all have norm M, so
    * cosine (or any angle-based ANN — the F2 LSH or F4 IVF index)
    * over the augmented space ranks EXACTLY by inner product of the
    * originals — the bridge that lets every cosine-path index serve
    * MIPS at 100 TB. The norm scan is one aggregate; augmentation
    * is map-side array math.
    */
  def mipsAugment(
      base: DataFrame,
      queries: DataFrame,
      vecCol: String
  ): (DataFrame, DataFrame) = {
    val normSq = aggregate(
      transform(col(vecCol), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val maxSq = base.agg(max(normSq)).collect()(0).getDouble(0)
    val augBase = base.withColumn(vecCol,
      concat(transform(col(vecCol), x => x.cast("double")),
        array(sqrt(greatest(lit(maxSq) - normSq, lit(0.0))))))
    val augQ = queries.withColumn(vecCol,
      concat(transform(col(vecCol), x => x.cast("double")), array(lit(0.0))))
    (augBase, augQ)
  }

  /** Johnson-Lindenstrauss random projection to `outDim` dims with a
    * deterministic ±1 sign matrix (Achlioptas), as ONE map-side HOF
    * pass returning the projected vector as ×10⁶ fixed-point longs.
    * Per-element terms are quantized BEFORE summation so the result
    * is exact integer math — reproducible under any evaluation order
    * and across engines. This is the scale path (zero shuffles,
    * one pass); the exploded formulation in the `sim_rp_project`
    * registry row is its oracle-able twin (spec-pinned equal).
    */
  def randomProjectFx(vec: Column, outDim: Int): Column =
    transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
          round(x.cast("double") * lit(1000000.0), 0).cast("long") * rpSign(i, j)),
        lit(0L), (acc, v) => acc + v))

  /** Deterministic ±1 sign for (element i, output dim j) — the
    * shared closed-form LCG mix, parity as the sign bit. Must stay
    * identical to the SQL-side formula in `sim_rp_project`.
    */
  def rpSign(i: Column, j: Column): Column =
    when(((i.cast("long") * lit(2654435761L) + j.cast("long") * lit(40503L)
      + lit(1013904223L)) % lit(1000000007L)) % lit(2L) === lit(0L), lit(1L))
      .otherwise(lit(-1L))
}
