package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 45: index numbers and term burstiness —
  * the price-statistics primitive and the corpus-linguistics signal
  * behind "did prices move or did the basket move" and "is this a
  * content word or boilerplate glue".
  */
object Pipeline48 {

  /** D107: Laspeyres / Paasche / Fisher price indices per brand
    * between the first and second half of the ship-date range —
    * the index-number machinery (base-weighted vs current-weighted
    * vs their geometric mean) that turns raw price/quantity pairs
    * into a defensible "prices rose X%": D104 decomposes a MEAN,
    * this prices a BASKET. Per (brand, part, half): unit price =
    * ×10³ fixed-point Σcents/Σqty; only parts traded in BOTH
    * halves enter (the matched-basket rule). All-BIGINT: prices are
    * hundredth-cent fixed point and the final ratio drops three
    * digits from numerator AND denominator before the ×10⁶
    * emission, keeping every intermediate long-safe at the probe
    * scales (documented bound — past it, emit the four raw sums
    * and divide in the reader); Fisher rounds √(L·P) to 4 dp from
    * exact integer inputs.
    *
    * Scale shape: ONE corpus collapse to (brand, part, half) sums
    * (map-side combined); the part table broadcasts for the brand
    * key; the half-pivot, matched-basket filter and the three
    * index sums all run on the parts-bounded table.
    */
  def qPriceIndex(t: Tables): DataFrame = {
    val shipType = t.lineitem.schema("l_shipdate").dataType
    val li = t.lineitem
      .join(broadcast(t.part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("l_partkey").as("pk"),
        // schema-dispatched epoch micros (the Tables.normalizeTs
        // lesson: never assume one physical ts encoding)
        call_function("div",
          graft.Tables.tsMicrosExpr(shipType, col("l_shipdate")),
          lit(86400000000L)).as("d"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"))
      .localCheckpoint(true)
    val bounds = li.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val cells = li.crossJoin(broadcast(bounds))
      .withColumn("h", when(col("d") * 2 <= col("dmin") + col("dmax"), 1).otherwise(2))
      .groupBy(col("brand"), col("pk"), col("h"))
      .agg(sum(col("cents")).as("c"), sum(col("qty")).as("q"))
    val piv = cells.groupBy(col("brand"), col("pk"))
      .agg(
        max(when(col("h") === 1, expr("(100 * c) div q"))).as("p1"),
        max(when(col("h") === 1, col("q"))).as("q1"),
        max(when(col("h") === 2, expr("(100 * c) div q"))).as("p2"),
        max(when(col("h") === 2, col("q"))).as("q2"))
      .filter(col("p1").isNotNull && col("p2").isNotNull)
    // All-BIGINT index arithmetic: prices are hundredth-cent fixed
    // point, and the final ratio drops three digits from both sides
    // ((num div 10^3) / (den div 10^3)) before the *10^6 emission so
    // the largest intermediate stays ~10^3 under Long.Max at the
    // probe scales (documented bound; past it, emit the four raw
    // sums and divide in the reader).
    piv.groupBy(col("brand"))
      .agg(
        count(lit(1)).as("n_parts"),
        sum(expr("p2 * q1")).as("l_num"),
        sum(expr("p1 * q1")).as("l_den"),
        sum(expr("p2 * q2")).as("p_num"),
        sum(expr("p1 * q2")).as("p_den"))
      .select(col("brand"), col("n_parts"),
        expr("(1000000 * (l_num div 1000)) div greatest(l_den div 1000, 1)").as("laspeyres_fx"),
        expr("(1000000 * (p_num div 1000)) div greatest(p_den div 1000, 1)").as("paasche_fx"),
        expr("""round(sqrt((CAST((1000000 * (l_num div 1000)) div greatest(l_den div 1000, 1) AS DOUBLE) / 1000000.0)
               |  * (CAST((1000000 * (p_num div 1000)) div greatest(p_den div 1000, 1) AS DOUBLE) / 1000000.0)), 4)""".stripMargin)
          .as("fisher"))
  }

  val qPriceIndexSql: String =
    """WITH li AS (
      |  SELECT p.p_brand AS brand, l_partkey AS pk,
      |    epoch_us(l_shipdate) // 86400000000 AS d,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem JOIN part p ON l_partkey = p.p_partkey),
      |b AS (SELECT min(d) AS dmin, max(d) AS dmax FROM li),
      |cells AS (
      |  SELECT brand, pk,
      |    CASE WHEN d * 2 <= dmin + dmax THEN 1 ELSE 2 END AS h,
      |    CAST(sum(cents) AS BIGINT) AS c, CAST(sum(qty) AS BIGINT) AS q
      |  FROM li CROSS JOIN b GROUP BY 1, 2, 3),
      |piv AS (
      |  SELECT brand, pk,
      |    max(CASE WHEN h = 1 THEN (100 * c) // q END) AS p1,
      |    max(CASE WHEN h = 1 THEN q END) AS q1,
      |    max(CASE WHEN h = 2 THEN (100 * c) // q END) AS p2,
      |    max(CASE WHEN h = 2 THEN q END) AS q2
      |  FROM cells GROUP BY 1, 2),
      |m AS (SELECT * FROM piv WHERE p1 IS NOT NULL AND p2 IS NOT NULL),
      |s AS (
      |  SELECT brand, count(*) AS n_parts,
      |    CAST(sum(p2 * q1) AS BIGINT) AS l_num,
      |    CAST(sum(p1 * q1) AS BIGINT) AS l_den,
      |    CAST(sum(p2 * q2) AS BIGINT) AS p_num,
      |    CAST(sum(p1 * q2) AS BIGINT) AS p_den
      |  FROM m GROUP BY 1)
      |SELECT brand, n_parts,
      |  (1000000 * (l_num // 1000)) // greatest(l_den // 1000, 1) AS laspeyres_fx,
      |  (1000000 * (p_num // 1000)) // greatest(p_den // 1000, 1) AS paasche_fx,
      |  round(sqrt((CAST((1000000 * (l_num // 1000)) // greatest(l_den // 1000, 1) AS DOUBLE) / 1000000.0)
      |    * (CAST((1000000 * (p_num // 1000)) // greatest(p_den // 1000, 1) AS DOUBLE) / 1000000.0)), 4) + 0
      |    AS fisher
      |FROM s""".stripMargin

  /** G39: term burstiness (Fano factor / index of dispersion,
    * Church & Gale): variance-to-mean ratio of per-document term
    * frequency over the WHOLE corpus (absent docs count as zero)
    * for the 10 highest-df terms — ≈1 means Poisson scatter
    * (function word / template glue), ≫1 means the term CLUMPS in
    * few docs (content word). The signal G2's ratios and G21's
    * repetition don't give: it separates "everywhere evenly" from
    * "everywhere because boilerplate injects it". Exact integers:
    * Fano×10⁴ = 10⁴·(N·Σtf² − (Σtf)²) div (N·Σtf), non-negative by
    * Cauchy–Schwarz, long-safe at the probe scales.
    *
    * Scale shape: one (term, doc) tf collapse (map-side combined),
    * per-term moment agg on the compacted table, top-10 by df via
    * TakeOrdered, N as a 1-row broadcast.
    */
  def txBurstiness(t: Tables): DataFrame = {
    val tf = t.documents
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val n = t.documents.agg(count(lit(1)).as("n_docs"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("s1"),
        sum(expr("tf * tf")).as("s2"))
      .orderBy(col("df").desc, col("term")).limit(10)
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"), col("n_docs"),
        // N*Sigma(tf^2) >= (Sigma tf)^2 (Cauchy-Schwarz) keeps the
        // numerator non-negative; all-long at probe scales.
        expr("(10000 * (n_docs * s2 - s1 * s1)) div (n_docs * s1)")
          .as("fano_fx"))
  }

  val txBurstinessSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT term, doc_id, count(*) AS tf FROM terms GROUP BY 1, 2),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |m AS (
      |  SELECT term, count(*) AS df,
      |    CAST(sum(tf) AS BIGINT) AS s1,
      |    CAST(sum(tf * tf) AS BIGINT) AS s2
      |  FROM tf GROUP BY 1
      |  ORDER BY df DESC, term LIMIT 10)
      |SELECT term, df, n_docs,
      |  (10000 * (n_docs * s2 - s1 * s1)) // (n_docs * s1) AS fano_fx
      |FROM m CROSS JOIN n""".stripMargin
}
