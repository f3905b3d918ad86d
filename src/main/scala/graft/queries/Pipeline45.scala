package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-8 extension batch 42: span-level decontamination and
  * source-freshness auditing — localizing WHERE the eval set leaks
  * into a training doc, and whether a feed has gone stale.
  */
object Pipeline45 {

  /** E29: span-level decontamination — E9 flags WHICH training docs
    * share a 5-gram with the eval split (doc_id % 97 = 0, the E9
    * convention); this localizes WHERE: per contaminated (train,
    * eval) pair, the hit count and the first/last matching 5-gram
    * START POSITION in the train doc. The redaction step after the
    * detection step — a pipeline that wants to KEEP the doc minus
    * the leaked span (G14 span-dedup semantics) needs the offsets,
    * not the flag.
    *
    * Scale shape: train-side positional shingles stream map-side
    * (posexplode of the 5-gram transform — no distinct, positions
    * must survive); the eval side collapses to DISTINCT shingles
    * (eval-set-bounded) before the equi-join; the pair rollup is
    * one map-side-combined agg on (train, eval) keys. Same join
    * key discipline as E9 — at 100 TB the eval side broadcasts.
    */
  def ddDecontaminateSpans(t: Tables): DataFrame = {
    val docs = t.documents
    def toks(c: org.apache.spark.sql.Column) =
      split(lower(trim(c)), "\\s+")
    val train = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, greatest(size(t) - 4, 0)), i -> concat_ws(' ', slice(t, i, 5)))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("spos"), col("col").as("sh"))
    val eval5 = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id").as("eval_id"), toks(col("text")).as("t"))
      .select(col("eval_id"),
        explode(expr(
          "array_distinct(transform(sequence(1, greatest(size(t) - 4, 0)), i -> concat_ws(' ', slice(t, i, 5))))"))
          .as("sh"))
    train.join(eval5, "sh")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("spos")).as("first_pos"),
        max(col("spos")).as("last_pos"))
  }

  val ddDecontaminateSpansSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |train AS (
      |  SELECT toks.doc_id, CAST(i AS BIGINT) AS spos,
      |    concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS sh
      |  FROM toks, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)
      |  WHERE doc_id % 97 <> 0),
      |ev AS (
      |  SELECT DISTINCT doc_id AS eval_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, greatest(len(t) - 4, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])))) AS sh
      |  FROM toks WHERE doc_id % 97 = 0)
      |SELECT t.doc_id, e.eval_id, count(*) AS n_hits,
      |  min(t.spos) AS first_pos, max(t.spos) AS last_pos
      |FROM train t JOIN ev e USING (sh)
      |GROUP BY 1, 2""".stripMargin

  /** D103: source-freshness audit — per event type the newest event
    * time, its lag behind the corpus's newest event, and a stale
    * flag at one hour: the data-ops "did a feed stop" check that
    * runs before every downstream consumer (a silent-stale source
    * poisons every join against it). Exact epoch-micros integers;
    * the corpus max arrives as a 1-row broadcast.
    *
    * Scale shape: two map-side-combined max aggregates (per type,
    * global) — nothing wider than |types| rows ever moves.
    */
  def qFreshness(t: Tables): DataFrame = {
    val ev = t.events.select(col("event_type"),
      expr("unix_micros(ts)").as("us"))
    val per = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("us")).as("max_us"))
    val global = ev.agg(max(col("us")).as("gmax_us"))
    per.crossJoin(broadcast(global))
      .select(col("event_type"), col("n"),
        col("max_us"),
        expr("(gmax_us - max_us) div 1000000").as("lag_s"),
        (col("gmax_us") - col("max_us") > 3600L * 1000000L).as("stale"))
  }

  val qFreshnessSql: String =
    """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
      |per AS (
      |  SELECT event_type, count(*) AS n, max(us) AS max_us
      |  FROM ev GROUP BY 1),
      |g AS (SELECT max(us) AS gmax_us FROM ev)
      |SELECT event_type, n, max_us,
      |  CAST((gmax_us - max_us) // 1000000 AS BIGINT) AS lag_s,
      |  (gmax_us - max_us) > CAST(3600 AS BIGINT) * 1000000 AS stale
      |FROM per CROSS JOIN g""".stripMargin
}
