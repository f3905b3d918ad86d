package graft.queries

import graft.Tables
import graft.operators.{Graph, Sampling}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 7: triangle counting (degree-ordered
  * orientation), Gini concentration, frequency-compacted blocked
  * entity resolution, k-fold assignment, and PMI collocations.
  * Every row has an exact DuckDB oracle; all cross-engine-fragile
  * arithmetic is integer (fixed-point longs, with DECIMAL(38)/
  * HUGEINT intermediates where products exceed 2⁶³).
  */
object Pipeline10 {

  /** D46: per-part triangle counts in the co-purchase graph (parts
    * appearing ≥2× together in an order are linked). Edge building
    * is a bounded self-join — per-order fan-out is order width, so
    * the pair space is rows·width, never rows² — and the triangle
    * enumeration uses [[Graph.triangleCounts]]'s degree-ordered
    * orientation (skew-safe O(m^{3/2}) wedge work). The oracle
    * states the naive id-ordered a&lt;b&lt;c definition: both
    * enumerate each triangle exactly once, so per-node counts are
    * identical — the registry row proves the smart algorithm
    * against the naive definition.
    */
  def qTriangleCount(t: Tables): DataFrame = {
    // Shared session-materialized edge set (GraphBase) — the build
    // runs once per (session, dir) across all six graph queries.
    val edges = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    Graph.triangleCounts(edges, "u", "v")
  }

  val qTriangleCountSql: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ee AS (SELECT u, v FROM e WHERE w >= 2),
      |tri AS (
      |  SELECT ab.u AS n1, ab.v AS n2, bc.v AS n3
      |  FROM ee ab
      |  JOIN ee bc ON ab.v = bc.u
      |  JOIN ee ac ON ac.u = ab.u AND ac.v = bc.v)
      |SELECT node, count(*) AS tri_cnt FROM (
      |  SELECT n1 AS node FROM tri
      |  UNION ALL SELECT n2 FROM tri
      |  UNION ALL SELECT n3 FROM tri) x
      |GROUP BY 1""".stripMargin

  /** D47: Gini coefficient of order-value concentration per nation —
    * the inequality summary a corpus-curation pass uses to flag
    * domination of a source/domain by a few heavy contributors.
    * With cents as exact longs and ascending ranks i (ties broken by
    * order key), G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) — emitted as a
    * ×10⁶ fixed-point long via DECIMAL(38) intermediates (2·S1·10⁶
    * overflows 2⁶³ at sf≥0.1), so the oracle's HUGEINT math lands on
    * identical longs. One window + one agg over order-sized rows;
    * dims broadcast.
    */
  def qGini(t: Tables): DataFrame = {
    val rows = t.orders
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .select(
        col("c_nationkey").as("nk"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderkey"))
    val ranked = rows.withColumn("i",
      row_number().over(Window.partitionBy(col("nk"))
        .orderBy(col("cents"), col("o_orderkey"))).cast("long"))
    ranked
      .groupBy(col("nk").as("n_nationkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("cents").cast("decimal(38,0)")).as("s0"),
        sum((col("i") * col("cents")).cast("decimal(38,0)")).as("s1"))
      .select(
        col("n_nationkey"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * (2 * s1 - (n_orders + 1) * s0))
                div (CAST(n_orders AS DECIMAL(38,0)) * s0) AS BIGINT)""").as("gini_fx"),
        col("n_orders"))
  }

  val qGiniSql: String =
    """WITH r AS (
      |  SELECT c_nationkey AS nk,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |rk AS (
      |  SELECT nk, cents,
      |    row_number() OVER (PARTITION BY nk ORDER BY cents, o_orderkey) AS i
      |  FROM r),
      |a AS (
      |  SELECT nk, count(*) AS n,
      |    sum(CAST(cents AS HUGEINT)) AS s0,
      |    sum(CAST(i AS HUGEINT) * cents) AS s1
      |  FROM rk GROUP BY 1)
      |SELECT nk AS n_nationkey,
      |  CAST((1000000::HUGEINT * (2 * s1 - (n + 1) * s0))
      |       // (CAST(n AS HUGEINT) * s0) AS BIGINT) AS gini_fx,
      |  n AS n_orders
      |FROM a""".stripMargin

  /** E22: blocked entity resolution over part names, frequency-
    * compacted. Block = (brand, head noun); a match is any pair of
    * part rows in the same block whose names are within edit
    * distance 2. The corpus-scale trick: Levenshtein depends only on
    * the NAME VALUES, so candidates are generated over the
    * per-block DISTINCT-name table (vocabulary-bounded — 64 names
    * here at every sf) and pair counts expand by multiplicity
    * (cnt·(cnt−1)/2 within a name, cntₐ·cnt_b across names). The
    * naive row-pair formulation the oracle states is quadratic in
    * BLOCK size; this one is quadratic only in per-block distinct
    * names — the difference between 2·10⁵ and 2·10¹⁰ comparisons at
    * 100 TB. Output is block-bounded (block, n_parts, n_match_pairs).
    */
  def ddBlockedEr(t: Tables): DataFrame = {
    // Vocabulary-bounded after the agg — checkpoint so the three
    // consumers (self-join a/b sides + block rollup) reuse one
    // corpus-side aggregation instead of re-scanning part 3×.
    val grp = t.part
      .select(col("p_brand"), col("p_name"),
        element_at(split(col("p_name"), " "), 2).as("noun"))
      .groupBy(col("p_brand"), col("noun"), col("p_name"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val cross = grp.as("a")
      .join(grp.as("b"),
        col("a.p_brand") === col("b.p_brand") && col("a.noun") === col("b.noun") &&
          col("a.p_name") < col("b.p_name"))
      .filter(levenshtein(col("a.p_name"), col("b.p_name")) <= 2)
      .groupBy(col("a.p_brand").as("p_brand"), col("a.noun").as("noun"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("cross_pairs"))
    grp
      .groupBy(col("p_brand"), col("noun"))
      .agg(
        sum(col("cnt")).as("n_parts"),
        sum(expr("cnt * (cnt - 1) div 2")).as("within_pairs"))
      .join(cross, Seq("p_brand", "noun"), "left")
      .select(col("p_brand"), col("noun"), col("n_parts"),
        (col("within_pairs") + coalesce(col("cross_pairs"), lit(0L)))
          .as("n_match_pairs"))
  }

  val ddBlockedErSql: String =
    """WITH pp AS (
      |  SELECT p_partkey, p_brand, p_name,
      |         split_part(p_name, ' ', 2) AS noun
      |  FROM part),
      |blocks AS (
      |  SELECT p_brand, noun, count(*) AS n_parts
      |  FROM pp GROUP BY 1, 2),
      |m AS (
      |  SELECT a.p_brand, a.noun, count(*) AS c
      |  FROM pp a JOIN pp b
      |    ON a.p_brand = b.p_brand AND a.noun = b.noun
      |   AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 2
      |  GROUP BY 1, 2)
      |SELECT blocks.p_brand, blocks.noun, n_parts,
      |       coalesce(c, 0) AS n_match_pairs
      |FROM blocks LEFT JOIN m
      |  ON blocks.p_brand = m.p_brand AND blocks.noun = m.noun""".stripMargin

  /** N13: deterministic k-fold (k=5) cross-validation assignment via
    * the [[Sampling.idBucket]] closed-form mix — map-only, stable
    * under any partitioning, reproducible by any engine with 64-bit
    * integer arithmetic. Output is the per-(fold, lang) profile a
    * training run uses to confirm fold balance.
    */
  def smKfold(t: Tables): DataFrame =
    t.documents
      .withColumn("fold", Sampling.kfold(col("doc_id"), 5))
      .groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  val smKfoldSql: String =
    """SELECT
      |  (((doc_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 5 AS fold,
      |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY 1, 2""".stripMargin

  /** G25: PMI collocation mining — the top-20 corpus bigrams by
    * pointwise mutual information with support ≥ 5, the classic
    * collocation-extraction pass (phrase vocabularies, tokenizer
    * merge seeding). PMI's log is monotone, so ranking by the exact
    * RATIO p(ab)/(p(a)p(b)) = cnt_ab·Nu²/(Nb·cntₐ·cnt_b) avoids
    * floats entirely: the ratio is emitted as a ×10⁶ fixed-point
    * long via DECIMAL(38)/HUGEINT (cnt_ab·Nu²·10⁶ exceeds 2⁶³).
    * Unigram and bigram counting are each one corpus shuffle; the
    * candidate table after the support filter is vocabulary-bounded,
    * and the unigram side joined to it is too (broadcast here; at
    * extreme vocabularies a shuffle join on token — both sides are
    * sub-linear in the corpus either way).
    */
  def txPmiBigrams(t: Tables): DataFrame = {
    val toks = t.documents
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt")).localCheckpoint(true)
    val nu = uni.agg(sum(col("cnt")).as("nu"))
    val bg = t.documents
      .select(explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
    val bgc = bg.groupBy(col("bigram")).agg(count(lit(1)).as("cnt_ab"))
      .localCheckpoint(true)
    val nb = bgc.agg(sum(col("cnt_ab")).as("nb"))
    val scored = bgc
      .filter(col("cnt_ab") >= 5)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(broadcast(uni.select(col("tok").as("w1"), col("cnt").as("cnt_a"))), Seq("w1"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("cnt").as("cnt_b"))), Seq("w2"))
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .select(col("bigram"), col("cnt_ab"),
        expr("""CAST((CAST(cnt_ab AS DECIMAL(38,0)) * nu * nu * 1000000)
                div (CAST(nb AS DECIMAL(38,0)) * cnt_a * cnt_b) AS BIGINT)""")
          .as("pmi_ratio_fx"))
    // Distributed top-k (TakeOrderedAndProject — per-partition heaps,
    // never a global sort), THEN a rank window over the constant-20
    // survivors (PlanGuard-allowlisted: bounded before the window).
    scored
      .orderBy(col("pmi_ratio_fx").desc, col("bigram"))
      .limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("pmi_ratio_fx").desc, col("bigram")))
          .cast("long"))
  }

  val txPmiBigramsSql: String =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |uni AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
      |nu AS (SELECT sum(cnt) AS nu FROM uni),
      |tarr AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1]))) AS bigram
      |  FROM tarr),
      |bgc AS (SELECT bigram, count(*) AS cnt_ab FROM bg GROUP BY 1),
      |nb AS (SELECT sum(cnt_ab) AS nb FROM bgc),
      |scored AS (
      |  SELECT bigram, cnt_ab,
      |    CAST((CAST(cnt_ab AS HUGEINT) * nu.nu * nu.nu * 1000000)
      |         // (CAST(nb.nb AS HUGEINT) * ua.cnt * ub.cnt) AS BIGINT) AS pmi_ratio_fx
      |  FROM bgc
      |  JOIN uni ua ON ua.tok = split_part(bigram, ' ', 1)
      |  JOIN uni ub ON ub.tok = split_part(bigram, ' ', 2)
      |  CROSS JOIN nu CROSS JOIN nb
      |  WHERE cnt_ab >= 5)
      |SELECT bigram, cnt_ab, pmi_ratio_fx, rank FROM (
      |  SELECT bigram, cnt_ab, pmi_ratio_fx,
      |    row_number() OVER (ORDER BY pmi_ratio_fx DESC, bigram) AS rank
      |  FROM scored) x
      |WHERE rank <= 20""".stripMargin
}
