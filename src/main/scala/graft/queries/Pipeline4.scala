package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch: dataset-mixture construction surfaces —
  * token-budgeted greedy source fill and deterministic per-epoch
  * shard shuffling (the two remaining sampling-layer operations a
  * training-data pipeline runs between dedup and packing). Every
  * entry is a SURVEY §2 row with a DuckDB oracle.
  */
object Pipeline4 {

  /** N9: token-budget mixture fill — per source, keep documents in
    * doc_id order while the running token total stays within the
    * budget (the greedy "fill each source's token quota" step of
    * mixture construction; tokens = space-separated word count, the
    * same proxy as `sm_pack_sequences`).
    *
    * Scale shape: a naive `sum over (partition by source order by
    * doc_id)` window puts EVERY row of a source through one
    * reducer — with a handful of sources that is a single-machine
    * sort of the whole corpus. This plan is the two-phase prefix
    * sum instead: (1) one exchange on (source, bucket) computes
    * intra-bucket running totals in parallel, (2) bucket totals —
    * reusing that same partitioning, no second corpus exchange —
    * roll into per-source bucket offsets (rows = sources × buckets,
    * broadcast back), (3) cum = offset + intra. The only corpus
    * shuffle is the (source, bucket) one, and bucket width (not
    * source count) bounds every sorted partition.
    */
  def smTokenBudgetMix(t: Tables): DataFrame =
    tokenBudgetMix(t.documents, budget = 150L, bucketWidth = 64L)

  /** Library form over any (doc_id, source, text) frame. */
  def tokenBudgetMix(docs: DataFrame, budget: Long, bucketWidth: Long): DataFrame = {
    // Slim staging boundary (the dupNgramFrac pattern): the token
    // projection feeds BOTH the intra-bucket window and the bucket
    // partials, and the join-side null filters Catalyst infers make
    // the two subtrees differ — ReusedExchange can't fire, so
    // without a boundary the TEXT scan and the corpus exchange both
    // run twice (verified in the physical plan). persist(DISK_ONLY)
    // pins the ~32 B/row (source, doc_id, tok, bkt) projection: one
    // text scan, one corpus-sized exchange, lazy (plan-only
    // consumers trigger no job), lineage kept for executor loss.
    val toks = docs.select(
      col("source"),
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tok"),
      floor(col("doc_id") / bucketWidth).as("bkt"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val intraW = Window.partitionBy(col("source"), col("bkt"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val intra = toks.withColumn("intra", sum(col("tok")).over(intraW))
    // Bucket totals go through a plain aggregate, NOT the window:
    // map-side partial combine collapses each bucket to one row
    // before its exchange, so the offsets path moves sources ×
    // buckets rows, never the corpus. The offset table is then
    // window-scanned per source and broadcast back.
    val offW = Window.partitionBy(col("source")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("source"), col("bkt"))
      .agg(sum(col("tok")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(offW), lit(0L)))
      .select(col("source"), col("bkt"), col("off"))
    intra.join(broadcast(offsets), Seq("source", "bkt"))
      .withColumn("cum", col("off") + col("intra"))
      .groupBy(col("source"))
      .agg(
        count(when(col("cum") <= budget, 1)).as("n_selected"),
        coalesce(sum(when(col("cum") <= budget, col("tok"))), lit(0L))
          .as("tok_selected"),
        count(lit(1)).as("n_total"))
  }

  /** The oracle states the SEMANTICS (one plain running sum per
    * source); the two-phase plan above is numerically identical —
    * integer addition is associative, so bucketed partials + offsets
    * reproduce the sequential cumulative total exactly.
    */
  val smTokenBudgetMixSql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |c AS (
      |  SELECT source, tok, sum(tok) OVER (
      |    PARTITION BY source ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT source,
      |  CAST(count(*) FILTER (cum <= 150) AS BIGINT) AS n_selected,
      |  CAST(coalesce(sum(tok) FILTER (cum <= 150), 0) AS BIGINT) AS tok_selected,
      |  CAST(count(*) AS BIGINT) AS n_total
      |FROM c GROUP BY source""".stripMargin

  /** N10: deterministic per-epoch shard shuffle — each training
    * epoch re-permutes the corpus into shards with a closed-form
    * integer mix (same splitmix-style family as
    * [[graft.operators.Sampling.idBucket]]), so every worker can
    * recompute its epoch-e shard order with no stored permutation
    * and no RNG state.
    *
    * Scale shape: the mix and shard assignment are map-side codegen
    * arithmetic; the only exchange is the (epoch, shard) partition
    * for the in-shard order. Shard count is the scaling knob — size
    * it to rows/epoch-shard-target so each row_number partition
    * stays one reducer's worth (pinned at 32 here for oracle
    * determinism; a 100 TB caller passes nShards ≈ rows / 10M).
    */
  def smEpochShuffle(t: Tables): DataFrame =
    epochShuffle(t.documents, epochs = 3, nShards = 32)

  /** Library form over any frame with a stable long id column. */
  def epochShuffle(docs: DataFrame, epochs: Int, nShards: Int): DataFrame = {
    require(epochs > 0, s"epochs must be positive: $epochs")
    require(nShards > 0, s"nShards must be positive: $nShards")
    val P = 1000000007L
    val mixed = docs
      .select(col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      // The epoch salt goes INSIDE the multiplicative mix: salting
      // AFTER it (mix + 97·epoch) merely shifts every mix value by a
      // constant, and since a constant shift preserves both `mod
      // nShards` structure and relative order, each "epoch" would be
      // a shard-relabeling of epoch 0 with identical in-shard order —
      // no re-permutation at all. Reduce mod P FIRST so the product
      // stays below 2^63 (see Sampling.idBucket — raw id·constant
      // overflows Long for ids ≳3.5e9: an ANSI-mode crash and an
      // engine-divergence hazard).
      .withColumn("mix",
        (pmod(col("doc_id") + col("epoch").cast("long") * lit(7919L), lit(P))
          * lit(2654435761L) + lit(1013904223L)) % lit(P))
      .withColumn("shard", pmod(col("mix"), lit(nShards.toLong)))
    val posW = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("mix"), col("doc_id"))
    mixed.select(
      col("epoch").cast("long").as("epoch"),
      col("shard"),
      row_number().over(posW).cast("long").as("pos"),
      col("doc_id"))
  }

  val smEpochShuffleSql: String =
    """WITH m AS (
      |  SELECT doc_id, epoch,
      |    (((doc_id + epoch * 7919) % 1000000007) * 2654435761 + 1013904223)
      |      % 1000000007 AS mix
      |  FROM documents, range(0, 3) AS t(epoch)),
      |s AS (SELECT doc_id, epoch, mix, mix % 32 AS shard FROM m)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |  CAST(shard AS BIGINT) AS shard,
      |  CAST(row_number() OVER (
      |    PARTITION BY epoch, shard ORDER BY mix, doc_id) AS BIGINT) AS pos,
      |  doc_id
      |FROM s""".stripMargin
}
