package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 extension batch 8: seasonal profiling, recursive
  * exponential smoothing (Holt), and RAKE keyword extraction.
  * Fixed-point integer math throughout; the Holt oracle replays the
  * recurrence with a RECURSIVE CTE (both engines' integer division
  * truncates toward zero — verified including negatives, which the
  * trend term produces).
  */
object Pipeline11 {

  /** D48: day-of-week seasonal index per event type — mean value on
    * each weekday relative to the type's overall mean, as a ×10⁶
    * fixed-point ratio (sum_dow·cnt_all·10⁶)/(cnt_dow·sum_all) over
    * exact ×10⁴ value cents. Weekday from epoch-day modulo (identical
    * closed form in both engines — named DOW functions disagree on
    * week origin across engines). DECIMAL(38)/HUGEINT intermediates:
    * sum·cnt·10⁶ overflows 2⁶³ past sf0.1. Two node-bounded aggs
    * (type×7 and type), broadcast-joined back.
    */
  def qSeasonalIndex(t: Tables): DataFrame = {
    val base = t.events.select(
      col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("epoch_day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .withColumn("dow", pmod(col("epoch_day"), lit(7)))
    val perDow = base.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("v_fx")).as("sum_dow"), count(lit(1)).as("cnt_dow"))
    val perType = base.groupBy(col("event_type"))
      .agg(sum(col("v_fx")).as("sum_all"), count(lit(1)).as("cnt_all"))
    perDow.join(broadcast(perType), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("cnt_dow"),
        expr("""CAST((CAST(sum_dow AS DECIMAL(38,0)) * cnt_all * 1000000)
                div (CAST(cnt_dow AS DECIMAL(38,0)) * sum_all) AS BIGINT)""")
          .as("season_fx"))
  }

  val qSeasonalIndexSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    (epoch_us(ts) // 86400000000) % 7 AS dow,
      |    CAST(round(value * 10000) AS BIGINT) AS v_fx
      |  FROM events),
      |pd AS (
      |  SELECT event_type, dow, sum(v_fx) AS sum_dow, count(*) AS cnt_dow
      |  FROM b GROUP BY 1, 2),
      |pt AS (
      |  SELECT event_type, sum(v_fx) AS sum_all, count(*) AS cnt_all
      |  FROM b GROUP BY 1)
      |SELECT pd.event_type, dow, cnt_dow,
      |  CAST((CAST(sum_dow AS HUGEINT) * cnt_all * 1000000)
      |       // (CAST(cnt_dow AS HUGEINT) * sum_all) AS BIGINT) AS season_fx
      |FROM pd JOIN pt ON pd.event_type = pt.event_type""".stripMargin

  /** D49: Holt double-exponential smoothing (level + trend) of the
    * daily per-type value series — the recursive-smoothing
    * capability class beside the closed-form decay (D38) and the
    * sliding mean-shift detector (D45). α=3/10, β=1/10 as integer
    * ratios; daily sums are ×10⁴ cents; the recurrence
    * {{{
    *   l₁=x₁, b₁=x₂−x₁
    *   l_t = (3·x_t + 7·(l+b)) div 10
    *   b_t = ((l_t − l) + 9·b) div 10
    * }}}
    * is pure long math (div truncates toward zero in BOTH engines,
    * negatives included — the trend term goes negative), so the
    * DuckDB RECURSIVE-CTE replay is bit-identical. The fold runs as
    * one `aggregate` HOF over each type's day-ordered array — the
    * series is day-count-bounded (~365·n_types rows at ANY corpus
    * scale), so the per-group array is bounded too; the corpus-sized
    * work is the one daily-rollup shuffle.
    */
  def qHolt(t: Tables): DataFrame = {
    val daily = t.events.select(
      col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("epoch_day"),
      expr("CAST(round(value * 10000) AS BIGINT)").as("v_fx"))
      .groupBy(col("event_type"), col("epoch_day"))
      .agg(sum(col("v_fx")).as("x"))
    val series = daily.groupBy(col("event_type"))
      .agg(expr("transform(sort_array(collect_list(struct(epoch_day, x))), s -> s.x)")
        .as("xs"))
      .filter(size(col("xs")) >= 2)
    // l' appears twice inside b' — SQL lambdas have no let-binding,
    // so the level expression is repeated verbatim (pure integer
    // math, bit-identical both times).
    series.select(
      col("event_type"),
      size(col("xs")).cast("long").as("n_days"),
      expr("""aggregate(
                slice(xs, 2, size(xs) - 1),
                named_struct('l', xs[0], 'b', xs[1] - xs[0]),
                (acc, x) -> named_struct(
                  'l', (3 * x + 7 * (acc.l + acc.b)) div 10,
                  'b', (((3 * x + 7 * (acc.l + acc.b)) div 10) - acc.l + 9 * acc.b) div 10),
                acc -> acc)""").as("s"))
      .select(col("event_type"), col("n_days"),
        col("s.l").as("level_fx"), col("s.b").as("trend_fx"),
        (col("s.l") + lit(7L) * col("s.b")).as("forecast7_fx"))
  }

  val qHoltSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS epoch_day,
      |    CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY epoch_day) AS t
      |  FROM daily),
      |n AS (SELECT event_type, max(t) AS tmax FROM d GROUP BY 1 HAVING max(t) >= 2),
      |s AS (
      |  WITH RECURSIVE rec AS (
      |    SELECT d1.event_type, CAST(1 AS BIGINT) AS t,
      |           d1.x AS l, d2.x - d1.x AS b
      |    FROM d d1 JOIN d d2
      |      ON d1.event_type = d2.event_type AND d1.t = 1 AND d2.t = 2
      |    UNION ALL
      |    SELECT rec.event_type, rec.t + 1,
      |      (3 * d.x + 7 * (rec.l + rec.b)) // 10,
      |      (((3 * d.x + 7 * (rec.l + rec.b)) // 10) - rec.l + 9 * rec.b) // 10
      |    FROM rec JOIN d
      |      ON d.event_type = rec.event_type AND d.t = rec.t + 1)
      |  SELECT * FROM rec)
      |SELECT s.event_type, n.tmax AS n_days, s.l AS level_fx, s.b AS trend_fx,
      |       s.l + 7 * s.b AS forecast7_fx
      |FROM s JOIN n ON s.event_type = n.event_type AND s.t = n.tmax""".stripMargin

  /** Shared stopword list for RAKE (injected verbatim into the SQL
    * twin); the testdata vocabulary really contains these.
    */
  val RakeStopwords: Seq[String] =
    Seq("a", "the", "of", "and", "to", "in", "is", "on", "for", "with")

  /** G26: RAKE keyword extraction (Rose et al.) corpus-wide — the
    * classic unsupervised keyword/phrase miner: candidate phrases
    * are maximal stopword-free token runs (gaps-and-islands on token
    * position); word score = co-occurrence degree / frequency over
    * phrase occurrences as a ×10⁶ integer ratio; phrase score = sum
    * of its words' scores (multiplicity included); top-20 distinct
    * phrases. Everything is exact integer math; top-k is
    * TakeOrderedAndProject with the rank window on the constant-20
    * survivors (PlanGuard-allowlisted). Shuffles: token-position
    * window, phrase rollups, word join — all corpus-linear,
    * vocabulary-bounded after the phrase agg.
    */
  def txRakeKeywords(t: Tables): DataFrame = {
    // r14 (guide §2.4): phrase occurrences are a PER-DOCUMENT fact,
    // so they are computed map-side by the native codegen'd
    // [[graft.functions.RakePhrases]] (one pass: stopword-split
    // token runs). The r13 shape posexploded every corpus token
    // through a per-doc row_number window + a (doc, grp) aggregate —
    // two corpus-sized exchanges that exist at any scale — to state
    // the same islands. Row-for-row identical phrases
    // (RakePhrasesSpec pins the equivalence); oracle SQL unchanged.
    val phraseOcc = t.documents
      .select(explode(graft.functions.RakePhrases(col("text"), RakeStopwords)).as("p"))
      .select(col("p.phrase").as("phrase"), col("p.plen").as("plen"))
    val phraseWords = phraseOcc
      .select(col("phrase"), col("plen"), explode(split(col("phrase"), " ")).as("tok"))
    val wordScores = phraseWords.groupBy(col("tok"))
      .agg(sum(col("plen")).as("degree"), count(lit(1)).as("freq"))
      .select(col("tok"), expr("(degree * 1000000) div freq").as("w_score_fx"))
    val distinctPhrases = phraseOcc.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"))
    val scored = distinctPhrases
      .select(col("phrase"), col("n_occurrences"),
        posexplode(split(col("phrase"), " ")).as(Seq("wpos", "tok")))
      .join(wordScores, Seq("tok"))
      .groupBy(col("phrase"), col("n_occurrences"))
      .agg(sum(col("w_score_fx")).as("score_fx"))
    scored
      .orderBy(col("score_fx").desc, col("phrase"))
      .limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score_fx").desc, col("phrase")))
          .cast("long"))
  }

  /** G27: compression-ratio quality signal — DEFLATE length of each
    * document's UTF-8 bytes over its byte length as a ×10⁶ ratio
    * (see [[graft.functions.DeflateLen]]): repetitive/templated text
    * scores low, natural prose high; the classic cheap repetition
    * detector beside the exact n-gram one (G9/G21). Map-only,
    * codegen'd, zero exchanges; `no_oracle` by design (the zlib
    * bitstream is implementation-defined — error-model ScalaTest
    * instead, the sketch-row protocol).
    */
  def txCompressRatio(t: Tables): DataFrame =
    t.documents
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.DeflateLen(col("text")).as("deflate_len"))
      .withColumn("ratio_fx", expr("(deflate_len * 1000000) div n_bytes"))

  val txRakeKeywordsSql: String = {
    val stopList = RakeStopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH arr AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
       |      i -> {'pos': i, 'tok': t[i]})) AS u
       |    FROM arr) z),
       |ns AS (
       |  SELECT doc_id, tok, pos,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM toks WHERE tok NOT IN ($stopList)),
       |occ AS (
       |  SELECT doc_id, grp,
       |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    count(*) AS plen
       |  FROM ns GROUP BY 1, 2),
       |pw AS (
       |  SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS tok FROM occ),
       |ws AS (
       |  SELECT tok,
       |    (CAST(sum(plen) AS BIGINT) * 1000000) // count(*) AS w_score_fx
       |  FROM pw GROUP BY 1),
       |dp AS (SELECT phrase, count(*) AS n_occurrences FROM occ GROUP BY 1),
       |dpw AS (
       |  SELECT phrase, n_occurrences, unnest(string_split(phrase, ' ')) AS tok
       |  FROM dp),
       |scored AS (
       |  SELECT phrase, n_occurrences,
       |    CAST(sum(w_score_fx) AS BIGINT) AS score_fx
       |  FROM dpw JOIN ws USING (tok)
       |  GROUP BY 1, 2)
       |SELECT phrase, n_occurrences, score_fx, rank FROM (
       |  SELECT phrase, n_occurrences, score_fx,
       |    row_number() OVER (ORDER BY score_fx DESC, phrase) AS rank
       |  FROM scored) x
       |WHERE rank <= 20""".stripMargin
  }
}
