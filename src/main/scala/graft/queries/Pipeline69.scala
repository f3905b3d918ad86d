package graft.queries

import graft.Tables
import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 batch 71: deeper time-series diagnostics (PACF via
  * unrolled Durbin–Levinson — the "which AR order" answer D63's
  * lag-1 ACF stops short of; Hurst R/S — long-memory vs mean-
  * reversion), TextRank keywords (D44's PageRank turned on the
  * word-adjacency graph — the graph-centrality keyword ranking
  * beside G26 RAKE's frequency heuristics), and the REAL bilinear
  * resize as a correctness row (closing the K2 seam's last
  * spec-only stage).
  */
object Pipeline69 {

  /** D141 `q_pacf`: autocorrelations r₁..r₃ of the per-type daily
    * count series (stationary estimator: full-series mean, c_k/c₀)
    * and the partial autocorrelations φ₁₁, φ₂₂, φ₃₃ by the
    * Durbin–Levinson recursion unrolled to order 3 — pure
    * arithmetic on the r's, identical on both engines. The AR-order
    * diagnostic D63's lag-1 Pearson ACF can't give.
    *
    * Scale shape: one (type, day) collapse; lags via type-
    * partitioned windows on the calendar-bounded daily table; one
    * type-keyed moment agg.
    */
  def qPacf(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .localCheckpoint(true)
    val mean = daily.groupBy(col("event_type"))
      .agg((sum(col("x")) / count(lit(1))).as("m"), count(lit(1)).as("nd"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = daily
      .withColumn("x1", lag(col("x"), 1).over(w))
      .withColumn("x2", lag(col("x"), 2).over(w))
      .withColumn("x3", lag(col("x"), 3).over(w))
      .join(broadcast(mean), "event_type")
    val cov = lagged.groupBy(col("event_type"))
      .agg(
        first(col("nd")).as("nd"),
        sum((col("x") - col("m")) * (col("x") - col("m"))).as("c0s"),
        sum(when(col("x1").isNotNull, (col("x") - col("m")) * (col("x1") - col("m")))
          .otherwise(0.0)).as("c1s"),
        sum(when(col("x2").isNotNull, (col("x") - col("m")) * (col("x2") - col("m")))
          .otherwise(0.0)).as("c2s"),
        sum(when(col("x3").isNotNull, (col("x") - col("m")) * (col("x3") - col("m")))
          .otherwise(0.0)).as("c3s"))
    // r_k = c_k / c_0 (the common 1/N on both cancels); then D-L:
    // φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²); φ21 = r1(1 − φ22);
    // φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2).
    cov
      .select(col("event_type"), col("nd"),
        (col("c1s") / col("c0s")).as("r1"),
        (col("c2s") / col("c0s")).as("r2"),
        (col("c3s") / col("c0s")).as("r3"))
      .withColumn("p2", (col("r2") - col("r1") * col("r1"))
        / (lit(1.0) - col("r1") * col("r1")))
      .withColumn("p21", col("r1") * (lit(1.0) - col("p2")))
      .select(col("event_type"), col("nd"),
        round(col("r1"), 4).as("r1"), round(col("r2"), 4).as("r2"),
        round(col("r3"), 4).as("r3"),
        round(col("r1"), 4).as("pacf1"),
        round(col("p2"), 4).as("pacf2"),
        round((col("r3") - col("p21") * col("r2") - col("p2") * col("r1"))
          / (lit(1.0) - col("p21") * col("r1") - col("p2") * col("r2")), 4)
          .as("pacf3"))
  }

  val qPacfSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, sum(x) / count(*) AS m, count(*) AS nd
      |  FROM daily GROUP BY 1),
      |lagged AS (
      |  SELECT d.event_type, x,
      |    lag(x, 1) OVER (PARTITION BY d.event_type ORDER BY day) AS x1,
      |    lag(x, 2) OVER (PARTITION BY d.event_type ORDER BY day) AS x2,
      |    lag(x, 3) OVER (PARTITION BY d.event_type ORDER BY day) AS x3,
      |    m, nd
      |  FROM daily d JOIN m USING (event_type)),
      |cov AS (
      |  SELECT event_type, CAST(max(nd) AS BIGINT) AS nd,
      |    sum((x - m) * (x - m)) AS c0s,
      |    sum(CASE WHEN x1 IS NOT NULL THEN (x - m) * (x1 - m) ELSE 0 END) AS c1s,
      |    sum(CASE WHEN x2 IS NOT NULL THEN (x - m) * (x2 - m) ELSE 0 END) AS c2s,
      |    sum(CASE WHEN x3 IS NOT NULL THEN (x - m) * (x3 - m) ELSE 0 END) AS c3s
      |  FROM lagged GROUP BY 1),
      |r AS (
      |  SELECT event_type, nd, c1s / c0s AS r1, c2s / c0s AS r2, c3s / c0s AS r3
      |  FROM cov),
      |p AS (
      |  SELECT event_type, nd, r1, r2, r3,
      |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2
      |  FROM r),
      |p2 AS (SELECT *, r1 * (1.0 - p2) AS p21 FROM p)
      |SELECT event_type, nd,
      |  round(r1, 4) + 0 AS r1, round(r2, 4) + 0 AS r2, round(r3, 4) + 0 AS r3,
      |  round(r1, 4) + 0 AS pacf1,
      |  round(p2, 4) + 0 AS pacf2,
      |  round((r3 - p21 * r2 - p2 * r1) / (1.0 - p21 * r1 - p2 * r2), 4) + 0
      |    AS pacf3
      |FROM p2""".stripMargin

  /** D142 `q_hurst`: rescaled-range (R/S) analysis of the daily
    * total-revenue series at block sizes n ∈ {4, 8, 14}: per block,
    * R = range of cumulative mean-deviations, S = population σ;
    * Ĥ = slope of ln(mean R/S) on ln(n) by closed-form 3-point
    * regression. H > ½ = trending, < ½ = mean-reverting — the
    * long-memory diagnostic behind retention/traffic forecasting.
    *
    * Scale shape: one daily collapse; block assignment is integer
    * arithmetic on the day index; every window is PARTITIONED by
    * (n, block) over the calendar-bounded daily table.
    */
  def qHurst(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("x"))
    val idxW = Window.orderBy(col("day"))
    val indexed = daily
      .withColumn("i", row_number().over(idxW).cast("long") - 1L)
      .localCheckpoint(true) // calendar-bounded (~31 rows)
    val sizes = Seq(4, 8, 14)
    val blocks = sizes.map { n =>
      indexed.select(lit(n.toLong).as("n"), expr(s"i div ${n}L").as("blk"),
        col("i"), col("x"))
        // drop the ragged tail block so every block has exactly n days
        .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("n"), col("blk"))))
        .filter(col("bn") === n)
    }.reduce(_ unionAll _)
    val bw = Window.partitionBy(col("n"), col("blk"))
    val cw = Window.partitionBy(col("n"), col("blk")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rs = blocks
      .withColumn("m", sum(col("x")).over(bw).cast("double") / col("n").cast("double"))
      .withColumn("cum", sum(col("x").cast("double") - col("m")).over(cw))
      .withColumn("rng", max(col("cum")).over(bw) - min(col("cum")).over(bw))
      .withColumn("sd", sqrt(
        sum((col("x").cast("double") - col("m")) * (col("x").cast("double") - col("m")))
          .over(bw) / col("n").cast("double")))
      .groupBy(col("n"), col("blk"))
      .agg(first(col("rng")).as("rng"), first(col("sd")).as("sd"))
      .filter(col("sd") > 0.0)
      .groupBy(col("n"))
      .agg((sum(col("rng") / col("sd")) / count(lit(1))).as("rs"), count(lit(1)).as("n_blocks"))
      .localCheckpoint(true) // 3 rows
    val fit = rs.agg(
      count(lit(1)).as("k"),
      sum(log(col("n").cast("double"))).as("sx"),
      sum(log(col("rs"))).as("sy"),
      sum(log(col("n").cast("double")) * log(col("rs"))).as("sxy"),
      sum(log(col("n").cast("double")) * log(col("n").cast("double")))
        .as("sxx"))
      .select(round(
        (col("k").cast("double") * col("sxy") - col("sx") * col("sy"))
          / (col("k").cast("double") * col("sxx") - col("sx") * col("sx")), 4)
        .as("hurst"))
    rs.select(col("n"), round(col("rs"), 4).as("rs"), col("n_blocks"))
      .crossJoin(broadcast(fit))
  }

  val qHurstSql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |idx AS (
      |  SELECT row_number() OVER (ORDER BY day) - 1 AS i, x FROM daily),
      |blocks AS (
      |  SELECT n, i // n AS blk, i, x FROM idx
      |  CROSS JOIN (SELECT unnest([4, 8, 14]) AS n)
      |  QUALIFY count(*) OVER (PARTITION BY n, i // n) = n),
      |rsb AS (
      |  SELECT n, blk,
      |    max(cum) - min(cum) AS rng,
      |    any_value(sd) AS sd
      |  FROM (
      |    SELECT n, blk, i, x,
      |      sum(CAST(x AS DOUBLE) - m) OVER (PARTITION BY n, blk ORDER BY i
      |        ROWS UNBOUNDED PRECEDING) AS cum,
      |      sqrt(sum((CAST(x AS DOUBLE) - m) * (CAST(x AS DOUBLE) - m))
      |        OVER (PARTITION BY n, blk) / n) AS sd
      |    FROM (
      |      SELECT n, blk, i, x,
      |        CAST(sum(x) OVER (PARTITION BY n, blk) AS DOUBLE) / n AS m
      |      FROM blocks) a) b
      |  GROUP BY 1, 2),
      |rs AS (
      |  SELECT n, sum(rng / sd) / count(*) AS rs,
      |    CAST(count(*) AS BIGINT) AS n_blocks
      |  FROM rsb WHERE sd > 0 GROUP BY 1),
      |fit AS (
      |  SELECT round(
      |    (count(*) * sum(ln(CAST(n AS DOUBLE)) * ln(rs)) - sum(ln(CAST(n AS DOUBLE))) * sum(ln(rs)))
      |    / (count(*) * sum(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE)))
      |       - sum(ln(CAST(n AS DOUBLE))) * sum(ln(CAST(n AS DOUBLE)))), 4) + 0
      |    AS hurst
      |  FROM rs)
      |SELECT n, round(rs, 4) + 0 AS rs, n_blocks, hurst
      |FROM rs CROSS JOIN fit""".stripMargin

  /** G47 `tx_textrank`: top-20 keywords by PageRank over the word
    * adjacency graph (undirected: each distinct bigram contributes
    * weighted edges both ways) — graph centrality keyword ranking
    * (Mihalcea & Tarau's TextRank shape) beside G26 RAKE's local
    * frequency statistics, running on [[Graph.pageRank]]'s exact
    * ×10⁹ integer fixed point so the oracle replays the recurrence
    * bit-identically in chained CTEs (the D44 convention; 4
    * iterations keeps the CTE chain bounded).
    *
    * Scale shape: one bigram count agg; the word graph is
    * vocabulary-bounded; per iteration exactly PageRank's two
    * exchanges; TakeOrdered top-20.
    */
  def txTextrank(t: Tables): DataFrame = {
    val bg = t.documents
      .select(explode(graft.functions.WordBigrams(col("text"))).as("b"))
      .select(split(col("b"), " ").getItem(0).as("w1"),
        split(col("b"), " ").getItem(1).as("w2"))
      .filter(col("w1") =!= col("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("w"))
    val edges = bg.select(col("w1").as("src"), col("w2").as("dst"), col("w"))
      .unionAll(bg.select(col("w2").as("src"), col("w1").as("dst"), col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    Graph.pageRank(edges, "src", "dst", "w", iters = 4)
      .orderBy(col("r_fx").desc, col("node"))
      .limit(20)
      .select(col("node").as("word"), col("r_fx"))
  }

  /** Chained-CTE replay of the D44 integer recurrence over the
    * word-adjacency edges (4 iterations).
    */
  val txTextrankSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT nodes.node,
         |    ((1000000000::BIGINT * 15 // 100) // n)
         |      + (85 * (coalesce(s.sum_fx, 0) + d.dang_fx // n)) // 100 AS r_fx
         |  FROM nodes CROSS JOIN nn
         |  CROSS JOIN (SELECT CAST(coalesce(sum(r_fx), 0) AS BIGINT) AS dang_fx
         |              FROM $prev
         |              WHERE node NOT IN (SELECT src FROM outw)) d
         |  LEFT JOIN (SELECT e.dst AS node,
         |               CAST(sum((r.r_fx * e.w) // o.out_w) AS BIGINT) AS sum_fx
         |             FROM e JOIN $prev r ON e.src = r.node
         |             JOIN outw o ON e.src = o.src GROUP BY 1) s
         |    ON nodes.node = s.node)""".stripMargin
    s"""WITH toks AS (
       |  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
       |bg0 AS (
       |  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
       |    i -> concat_ws(' ', t[i], t[i+1]))) AS b
       |  FROM toks),
       |bgp AS (
       |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
       |    count(*) AS w
       |  FROM bg0 WHERE split_part(b, ' ', 1) <> split_part(b, ' ', 2)
       |  GROUP BY 1, 2),
       |e AS (
       |  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT w1 AS src, w2 AS dst, w FROM bgp
       |    UNION ALL
       |    SELECT w2 AS src, w1 AS dst, w FROM bgp) u
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |outw AS (SELECT src, sum(w) AS out_w FROM e GROUP BY 1),
       |r0 AS (SELECT node, (1000000000 // n) AS r_fx FROM nodes CROSS JOIN nn),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |${iter("r3", "r4")}
       |SELECT node AS word, r_fx FROM r4
       |ORDER BY r_fx DESC, node LIMIT 20""".stripMargin
  }

  /** K12 `mm_resize_real`: REAL bilinear resize as a correctness
    * row — the K2 seam's last spec-only stage promoted to the
    * registry. Staged linear-ramp PNGs (the K9 fixture) are resized
    * to 6×5 with Graphics2D BILINEAR; bilinear resampling of a
    * LINEAR ramp must reproduce the ramp's mean up to sampling-
    * alignment bias, so the row emits exact resized dims plus an
    * in-plan gate that each channel's resized mean sits within
    * `TOL` gray levels of the source ramp's true mean (measured max
    * deviation 0.167 over all 5000 sf0.1 payloads; gate 4 = 24×
    * margin).
    */
  val ResizeMeanTol = 4L

  def mmResizeReal(t: Tables): DataFrame = {
    val staged = Pipeline62.stagedImages(t, "png")
    val outW = 6
    val outH = 5
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rw",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rh",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_r",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_g",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sum_b",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = staged.rdd.mapPartitions { it =>
      it.flatMap { r =>
        graft.operators.Multimodal.ImageIo
          .resizeStats(r.getAs[Array[Byte]](1), outW, outH)
          .map { case (w, h, sums) =>
            Row(r.getLong(0), w.toLong, h.toLong, sums(0), sums(1), sums(2))
          }
      }
    }
    val dec = t.spark.createDataFrame(rows, schema)
    // source ramp true mean per channel: base + 64c + (w-1)/2 + (h-1)/2
    val base = pmod(col("doc_id"), lit(64L)).cast("double")
    val srcW = (lit(8L) + pmod(col("doc_id"), lit(9L))).cast("double")
    val srcH = (lit(8L) + pmod(expr("doc_id div 9"), lit(7L))).cast("double")
    def ok(sumCol: String, chan: Int) = {
      val truth = (base + lit(64.0 * chan) + (srcW - 1.0) / 2.0 + (srcH - 1.0) / 2.0) *
        lit((outW * outH).toDouble)
      abs(col(sumCol).cast("double") - truth) <=
        lit(ResizeMeanTol.toDouble * outW * outH)
    }
    dec.select(col("doc_id"), col("rw"), col("rh"),
      (ok("sum_r", 0) && ok("sum_g", 1) && ok("sum_b", 2)).cast("long").as("mean_ok"))
  }

  val mmResizeRealSql: String =
    """SELECT doc_id,
      |  CAST(6 AS BIGINT) AS rw, CAST(5 AS BIGINT) AS rh,
      |  CAST(1 AS BIGINT) AS mean_ok
      |FROM documents""".stripMargin
}
