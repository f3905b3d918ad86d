package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 29: k-hop BFS traversal and
  * prefix-filtered exact set-similarity join.
  */
object Pipeline29 {

  /** D83: k-hop BFS — minimum hop distance from the smallest-id node
    * of the part co-purchase graph (the D70/D46 edge set: parts
    * co-ordered ≥ 2 times), bounded to 3 hops via
    * [[graft.operators.Graph.bfsHops]]. The graph-TRAVERSAL
    * capability the D-layer was missing: CC answers "connected at
    * all", this answers "how close", the seed-set-expansion query a
    * link-graph curation pass runs to grow a trusted frontier.
    *
    * Scale shape: the co-purchase build is one order-keyed self-join
    * + map-side-combined pair count (identical to D70); BFS rounds
    * are node-keyed hash joins on the checkpointed frontier — never
    * edge×edge, no global window; distances are exact longs, so the
    * result is partitioning-invariant by construction.
    */
  def qKhopBfs(t: Tables): DataFrame = {
    // Shared session-materialized edge set (GraphBase convention);
    // already checkpointed there.
    val edges = GraphBase.coPurchasePairs(t).select(col("u"), col("v"))
    val seed = edges.agg(least(min(col("u")), min(col("v"))).as("node"))
    Graph.bfsHops(edges, "u", "v", seed, maxHops = 3)
  }

  val qKhopBfsSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS w
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |ef AS (SELECT u, v FROM e0 WHERE w >= 2),
      |e AS (SELECT u, v FROM ef UNION SELECT v AS u, u AS v FROM ef),
      |s AS (SELECT least(min(u), min(v)) AS node FROM ef),
      |r(node, dist) AS (
      |  SELECT node, 0 FROM s
      |  UNION
      |  SELECT e.v, r.dist + 1 FROM r JOIN e ON e.u = r.node
      |  WHERE r.dist < 3)
      |SELECT node, CAST(min(dist) AS BIGINT) AS dist
      |FROM r GROUP BY 1""".stripMargin

  /** E32: prefix-filtered exact set-similarity join (the published
    * AllPairs/PPJoin candidate-generation scheme) — exact 3-gram
    * shingle Jaccard ≥ 0.6 over each document's full distinct-shingle
    * profile (the E4 shingle convention, but with NO doc-freq cap and
    * no approximation). Shingles are globally ordered by (df,
    * shingle); each document indexes only its first
    * `n − ⌈0.6·n⌉ + 1` profile shingles (the prefix), and the prefix
    * theorem guarantees every pair with true Jaccard ≥ τ shares a
    * prefix shingle — so the candidate stage reads ONLY the prefix
    * postings (rarest shingles first), yet the result is exactly the
    * naive full-inverted-index join the oracle states. The EXACT,
    * guaranteed-complete counterpart of the approximate candidate
    * generators (E2 MinHash bands, E3 SimHash, E8 hyperplanes), at a
    * fraction of the index (~40% of postings at τ=0.6).
    *
    * Scale shape: the corpus is shingled ONCE (checkpointed); doc
    * frequency is one shingle-keyed agg joined back on the shingle;
    * then ONE doc-keyed agg builds each document's full profile
    * array AND its (df, shingle)-sorted prefix in the same pass —
    * all per-document work on doc-bounded arrays, no window, no
    * second profile shuffle. Candidates come from the prefix-
    * postings self-join — hot shingles rank LAST in the (df,
    * shingle) order so they fall outside almost every prefix, which
    * is precisely how AllPairs bounds fan-out without sacrificing
    * exactness — WITH two published sound prunes applied before the
    * pair ever reaches verification: the AllPairs LENGTH filter in
    * the join condition (J ≤ min/max, so 10·min(na,nb) <
    * 6·max(na,nb) can never reach τ) and the PPJoin POSITIONAL
    * filter in the candidate agg (every shared token missed by the
    * prefix join sits past BOTH last-match positions — order
    * consistency of the global (df, s) rank — so inter ≤ c +
    * min(na−i, nb−j) with c = shared-prefix count, i/j = last match
    * positions; J ≥ 3/5 ⟺ 8·inter ≥ 3·(na+nb), so pairs with
    * 8·ub < 3·(na+nb) are dropped; measured 193k → 66k candidates
    * at sf0.1). Verification fetches the two profile ARRAYS via
    * shuffle-HASH joins (hinted: sorting array payloads is the SMJ
    * cost, and a doc-count-sized build side must never be a forced
    * broadcast at 100 TB) plus one `array_intersect` — work
    * proportional to surviving candidates × profile width, never
    * all pairs. Every threshold is an integer cross-multiplication;
    * no float boundary anywhere.
    */
  def ddPrefixFilter(t: Tables): DataFrame = {
    // Shingle ONCE — and as 64-bit xxhash values, not strings (r13,
    // guide §2.3 "shuffle keys, not payloads"): NgramXxHashes is the
    // E9-decontamination convention (hash equality == shingle-string
    // equality at 2⁻⁶⁴ collision odds, native codegen'd) and every
    // downstream exchange — the doc-frequency agg, the profile
    // build, the prefix-postings self-join AND the verification
    // array fetch — now moves 8-byte keys where it moved ~25-byte
    // shingle strings (measured 162.8 MB -> 93.7 MB total shuffle
    // per double run at sf0.1, BENCH_STAGES r13). The (df, h) global order is a valid AllPairs prefix
    // order (any consistent total order is); the oracle stays the
    // exact string-shingle SQL.
    val sh = t.documents
      .select(col("doc_id"),
        explode(graft.functions.NgramXxHashes(col("text"), 3)).as("h"))
      .localCheckpoint(true)
    val dfc = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // One doc-keyed agg yields profile array, size, and the AllPairs
    // prefix (first n − ⌈0.6·n⌉ + 1 shingles in (df, h) order) —
    // replaces the former sizes agg + per-doc rank window + join.
    val profiles = sh.join(dfc, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("dfs"))
      .select(col("doc_id"),
        transform(col("dfs"), x => x.getField("h")).as("ss"),
        size(col("dfs")).cast("long").as("n"))
      .withColumn("pref",
        slice(col("ss"), lit(1), expr("CAST(n - (6 * n + 9) div 10 + 1 AS INT)")))
      .localCheckpoint(true)
    val pref = profiles
      .select(col("doc_id"), col("n"), posexplode(col("pref")).as(Seq("p0", "s")))
      .withColumn("pos", col("p0").cast("long") + 1L).drop("p0")
    // (`s` below is the 8-byte shingle hash; the join/verify shapes
    // are unchanged from the string formulation.)
    // Candidate stage: prefix-postings self-join with the LENGTH
    // filter inline, then the POSITIONAL filter on the pair agg
    // (which replaces the former bare distinct — same shuffle, more
    // pruning): c shared prefix tokens with last-match positions
    // (i, j) bound the full overlap at c + min(na−i, nb−j).
    val cand = pref.as("pa")
      .join(pref.as("pb"),
        col("pa.s") === col("pb.s") && col("pa.doc_id") < col("pb.doc_id") &&
          least(col("pa.n"), col("pb.n")) * 10 >=
            greatest(col("pa.n"), col("pb.n")) * 6)
      .groupBy(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"),
        max(col("pa.pos")).as("i"), max(col("pb.pos")).as("j"),
        first(col("pa.n")).as("na0"), first(col("pb.n")).as("nb0"))
      .filter((col("c") + least(col("na0") - col("i"), col("nb0") - col("j"))) * 8 >=
        (col("na0") + col("nb0")) * 3)
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(profiles.hint("shuffle_hash").select(col("doc_id").as("doc_a"),
        col("ss").as("sa"), col("n").as("na")), Seq("doc_a"))
      .join(profiles.hint("shuffle_hash").select(col("doc_id").as("doc_b"),
        col("ss").as("sb"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("inter") * 10 >= (col("na") + col("nb") - col("inter")) * 6)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
  }

  val ddPrefixFilterSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
      |  FROM toks),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) + 0 AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE 10 * inter >= 6 * (sa.n + sb.n - inter)""".stripMargin
}
