package graft.queries

import graft.Tables
import graft.operators.{Geo, HeavyHitters, RuntimeFilter, TextOps, Urls}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-8 extension batch 3: runtime-filtered joins, sketch-guided
  * exact heavy hitters, URL-canonical dedup, closed-form geohash
  * keying, and readability scoring. Every entry is a SURVEY §2 row
  * with a DuckDB oracle.
  */
object Pipeline6 {

  /** D41: runtime-filter join — the urgent-orders dimension joined
    * to lineitem with a Bloom semi-join pre-filter on the fact side
    * (operators/RuntimeFilter). The bloom probe runs map-side inside
    * the scan stage, so at 100 TB the fact stream entering the join
    * exchange is already cut to ~the dimension's selectivity; the
    * exact equi-join that follows erases the bloom's false
    * positives, which is why the plain-join oracle matches exactly.
    */
  def qBloomJoin(t: Tables): DataFrame = {
    val dim = t.orders
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    RuntimeFilter.bloomJoin(t.lineitem, dim, "l_orderkey", "o_orderkey")
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 4)
          .as("sum_qty"))
  }

  val qBloomJoinSql: String =
    """SELECT o_orderstatus, l_returnflag, count(*) AS n,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) + 0 AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderstatus, l_returnflag""".stripMargin

  /** D40: exact heavy hitters via a CMS candidate pass
    * (operators/HeavyHitters) — keys with frequency ≥ 0.5% of the
    * table, over a deliberately skewed key (a third of the rows
    * collapse onto 16 hot buckets, the q_salted_agg device). The
    * exact groupBy only sees rows whose CMS estimate clears the
    * threshold; CMS never undercounts, so the output is exactly the
    * oracle's GROUP BY … HAVING.
    */
  def qHeavyHitters(t: Tables): DataFrame = {
    val li = t.lineitem
    val key = when(pmod(col("l_orderkey"), lit(3)) === 0,
      pmod(col("l_partkey"), lit(16))).otherwise(col("l_partkey"))
    HeavyHitters.exact(li, key, 0.005)
  }

  val qHeavyHittersSql: String =
    """WITH k AS (
      |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN l_partkey % 16
      |              ELSE l_partkey END AS key
      |  FROM lineitem),
      |tot AS (SELECT count(*) AS n_total FROM k)
      |SELECT key, count(*) AS n,
      |  round(CAST(count(*) AS DOUBLE) / n_total, 4) + 0 AS frac
      |FROM k CROSS JOIN tot
      |GROUP BY key, n_total
      |HAVING count(*) >= CAST(ceil(0.005 * n_total) AS BIGINT)""".stripMargin

  /** The messy synthetic URL per document — deterministic variants
    * (scheme/host case, default and explicit ports, trailing slash,
    * utm tracking params, fragments) that all collapse under
    * canonicalization. Shared by the registry row and its spec.
    */
  private[queries] def syntheticUrl: Column = {
    val d = col("doc_id")
    val scheme = when(pmod(d, lit(3)) === 0, lit("https://"))
      .when(pmod(d, lit(3)) === 1, lit("HTTPS://"))
      .otherwise(lit("http://"))
    val www = when(pmod(d, lit(2)) === 0, lit("WWW.")).otherwise(lit("www."))
    val port = when(pmod(d, lit(5)) === 0,
        when(pmod(d, lit(3)) === 2, lit(":80")).otherwise(lit(":443")))
      .when(pmod(d, lit(7)) === 0, lit(":8080"))
      .otherwise(lit(""))
    val path = concat(lit("/Articles/"), pmod(d, lit(37)).cast("string"),
      when(pmod(d, lit(4)) === 0, lit("/")).otherwise(lit("")))
    val query = when(pmod(d, lit(3)) === 0, lit("?utm_source=feed&utm_medium=x"))
      .when(pmod(d, lit(3)) === 1, lit("?utm_campaign=x"))
      .otherwise(concat(lit("?ref="), pmod(d, lit(5)).cast("string")))
    val frag = when(pmod(d, lit(6)) === 2, lit("#Section-2")).otherwise(lit(""))
    concat(scheme, www, lit("Site"), pmod(d, lit(4)).cast("string"),
      lit(".Example.COM"), port, path, query, frag)
  }

  /** E20: URL-canonical dedup — canonicalize (operators/Urls), then
    * collapse documents sharing a canonical URL (first doc wins).
    * Map-side regexp/array math plus ONE groupBy on the canonical
    * key — at 100 TB this is the standard crawl-dedup first pass,
    * upstream of any content hashing.
    */
  def ddUrlDedup(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), Urls.canonicalizeUrl(syntheticUrl).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_doc"))

  val ddUrlDedupSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTPS://'
      |          ELSE 'http://' END)
      |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END)
      |    || 'Site' || CAST(doc_id % 4 AS VARCHAR) || '.Example.COM'
      |    || (CASE WHEN doc_id % 5 = 0 THEN
      |            (CASE WHEN doc_id % 3 = 2 THEN ':80' ELSE ':443' END)
      |          WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END)
      |    || '/Articles/' || CAST(doc_id % 37 AS VARCHAR)
      |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      |    || (CASE doc_id % 3 WHEN 0 THEN '?utm_source=feed&utm_medium=x'
      |          WHEN 1 THEN '?utm_campaign=x'
      |          ELSE '?ref=' || CAST(doc_id % 5 AS VARCHAR) END)
      |    || (CASE WHEN doc_id % 6 = 2 THEN '#Section-2' ELSE '' END) AS url
      |  FROM documents),
      |p AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
      |x AS (SELECT doc_id,
      |    lower(coalesce(regexp_extract(nf, '^([A-Za-z]+)://', 1), '')) AS scheme,
      |    lower(coalesce(regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1), '')) AS hostport,
      |    regexp_replace(coalesce(regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), ''), '/+$', '') AS path,
      |    coalesce(regexp_extract(nf, '\?([^#]*)', 1), '') AS query
      |  FROM p),
      |y AS (SELECT doc_id, scheme,
      |    regexp_replace(hostport, ':[0-9]+$', '') AS host,
      |    coalesce(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS port,
      |    path,
      |    coalesce(array_to_string(list_sort(list_filter(regexp_split_to_array(query, '&'),
      |      pp -> pp <> '' AND NOT starts_with(pp, 'utm_'))), '&'), '') AS params
      |  FROM x),
      |c AS (SELECT doc_id,
      |    scheme || '://' || host
      |    || (CASE WHEN port = '' THEN ''
      |             WHEN scheme = 'http' AND port = '80' THEN ''
      |             WHEN scheme = 'https' AND port = '443' THEN ''
      |             ELSE ':' || port END)
      |    || path
      |    || (CASE WHEN params = '' THEN '' ELSE '?' || params END) AS canon_url
      |  FROM y)
      |SELECT canon_url, count(*) AS n_dups, min(doc_id) AS keep_doc
      |FROM c GROUP BY canon_url""".stripMargin

  /** C12: geohash keying — events projected onto WGS84, keyed by the
    * 8-char closed-form geohash (operators/Geo.geohash) plus its
    * 4-char prefix bucket. Pure map-side codegen bit math — the
    * spatial bucketing / partition key for a 100 TB geo table
    * without any geometry library on the executors.
    */
  def geoGeohash(t: Tables): DataFrame = {
    val ev = t.events
    val lon = col("value") / 500.0 * 360.0 - 180.0
    val lat = get_json_object(col("props"), "$.k").cast("double") / 100.0 * 180.0 - 90.0
    ev.select(col("event_id"), Geo.geohash(lat, lon).as("gh"))
      .withColumn("gh4", substring(col("gh"), 1, 4))
  }

  val geoGeohashSql: String = {
    val m16 = 281470681808895L     // 0x0000FFFF0000FFFF
    val m8 = 71777214294589695L    // 0x00FF00FF00FF00FF
    val m4 = 1085102592571150095L  // 0x0F0F0F0F0F0F0F0F
    val m2 = 3689348814741910323L  // 0x3333333333333333
    val m1 = 6148914691236517205L  // 0x5555555555555555
    val digits = (0 until 8).map { j =>
      s"substring('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((key >> ${35 - 5 * j}) & 31) AS INT) + 1, 1)"
    }.mkString(" || ")
    s"""WITH pts AS (
       |  SELECT event_id, value / 500.0 * 360.0 - 180.0 AS lon,
       |    CAST(json_extract_string(props, '$$.k') AS DOUBLE) / 100.0 * 180.0 - 90.0 AS lat
       |  FROM events),
       |q AS (
       |  SELECT event_id,
       |    least(greatest(CAST(floor((lon - (-180.0)) / (180.0 - (-180.0)) * 1048576.0) AS BIGINT), 0), 1048575) AS qx,
       |    least(greatest(CAST(floor((lat - (-90.0)) / (90.0 - (-90.0)) * 1048576.0) AS BIGINT), 0), 1048575) AS qy
       |  FROM pts),
       |s16 AS (SELECT event_id, (qx | (qx << 16)) & $m16 AS x, (qy | (qy << 16)) & $m16 AS y FROM q),
       |s8 AS (SELECT event_id, (x | (x << 8)) & $m8 AS x, (y | (y << 8)) & $m8 AS y FROM s16),
       |s4 AS (SELECT event_id, (x | (x << 4)) & $m4 AS x, (y | (y << 4)) & $m4 AS y FROM s8),
       |s2 AS (SELECT event_id, (x | (x << 2)) & $m2 AS x, (y | (y << 2)) & $m2 AS y FROM s4),
       |s1 AS (SELECT event_id, (x | (x << 1)) & $m1 AS x, (y | (y << 1)) & $m1 AS y FROM s2),
       |k AS (SELECT event_id, (x << 1) | y AS key FROM s1),
       |g AS (SELECT event_id, $digits AS gh FROM k)
       |SELECT event_id, gh, substring(gh, 1, 4) AS gh4 FROM g""".stripMargin
  }

  /** G23: readability scoring — Flesch reading ease from the
    * classic closed-form proxies: words (whitespace tokens),
    * sentences ([.!?]+ runs, floor 1), syllables (vowel-group runs
    * per lowercased text). Map-only column math, zero exchanges;
    * ratios are ROUNDED before the score so both engines make
    * identical boundary decisions (the Pipeline5 convention).
    */
  def txReadability(t: Tables): DataFrame =
    readability(t.documents)

  /** The count columns behind the Flesch score, over a text column —
    * shared by the registry row and the M12 corpus card.
    */
  private[queries] def readabilityCounts(text: Column): (Column, Column, Column) = {
    val nWords = size(TextOps.tokens(text)).cast("long")
    val sylMark = regexp_replace(lower(text), "[aeiouy]+", "\u0001")
    val nSyll = (length(sylMark) - length(translate(sylMark, "\u0001", ""))).cast("long")
    val sentMark = regexp_replace(text, "[.!?]+", "\u0001")
    val nSents = greatest(
      (length(sentMark) - length(translate(sentMark, "\u0001", ""))).cast("long"),
      lit(1L))
    (nWords, nSents, nSyll)
  }

  /** The rounded Flesch score from the count columns (the Pipeline5
    * rounded-ratio convention, shared with M12).
    */
  private[queries] def fleschCol(nWords: Column, nSents: Column, nSyll: Column): Column = {
    val wps = round(nWords.cast("double") / nSents.cast("double"), 4)
    val spw = round(nSyll.cast("double") / nWords.cast("double"), 4)
    round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
  }

  /** Library form over any (doc_id, text) frame. */
  def readability(docs: DataFrame): DataFrame = {
    val (nWords, nSents, nSyll) = readabilityCounts(col("text"))
    docs.select(col("doc_id"), nWords.as("n_words"), nSents.as("n_sents"),
        nSyll.as("n_syll"))
      .withColumn("wps",
        round(col("n_words").cast("double") / col("n_sents").cast("double"), 4))
      .withColumn("spw",
        round(col("n_syll").cast("double") / col("n_words").cast("double"), 4))
      .withColumn("flesch",
        round(lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"), 4))
  }

  val txReadabilitySql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
      |    regexp_replace(lower(text), '[aeiouy]+', chr(1), 'g') AS sm,
      |    regexp_replace(text, '[.!?]+', chr(1), 'g') AS tm
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_words,
      |    greatest(CAST(length(tm) - length(replace(tm, chr(1), '')) AS BIGINT), 1) AS n_sents,
      |    CAST(length(sm) - length(replace(sm, chr(1), '')) AS BIGINT) AS n_syll
      |  FROM s),
      |r AS (
      |  SELECT doc_id, n_words, n_sents, n_syll,
      |    round(CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE), 4) + 0 AS wps,
      |    round(CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE), 4) + 0 AS spw
      |  FROM c)
      |SELECT doc_id, n_words, n_sents, n_syll, wps, spw,
      |  round(206.835 - 1.015 * wps - 84.6 * spw, 4) + 0 AS flesch
      |FROM r""".stripMargin
}
