package graft.queries

import graft.Tables
import graft.operators.Sampling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 extension batch: a fourth export round trip (GeoJSONSeq)
  * plus three statistical tests a data-quality pass reaches for
  * beside the existing battery — Jarque–Bera normality (moments),
  * Brown–Forsythe/Levene variance homogeneity (median deviations),
  * and the two-proportion z-test (A/B conversion, pairing D52's
  * lift with its significance). All exact-integer accumulations
  * (DECIMAL(38)/HUGEINT where sums overflow int64), fixed-order
  * double arithmetic only at the final scalar step.
  */
object Pipeline74 {

  /** A25 `exp_geojsonseq_roundtrip`: the DISTRIBUTED text export
    * (H2, newline-delimited GeoJSON — the 100 TB path among the
    * single-file formats) read back by Spark's own JSON reader and
    * aggregated vs the ORIGINAL table. JSON round-trips doubles via
    * shortest-repr decimal strings (both sides parse to identical
    * IEEE doubles), so the 4-dp fixed-point sums land exactly.
    */
  def expGeojsonseqRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.util.SessionStage.dir(spark, dir, "rt_gjs") { p =>
      val t = Tables(spark, dir)
      val layer = t.events.select(
          col("event_id").cast("long").as("event_id"),
          col("event_type"),
          col("value").as("x"),
          get_json_object(col("props"), "$.k").cast("double").as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
      graft.`export`.GeoJson.writeSeq(
        layer.select(col("event_id"), col("event_type"), col("x"), col("y")),
        graft.`export`.GeoJson.pointGeometry(col("x"), col("y")),
        p.resolve("layer").toString)
    }
    val back = spark.read.json(d.resolve("layer").toString)
    back.select(
        col("properties.event_id").cast("long").as("event_id"),
        col("properties.event_type").as("event_type"),
        col("geometry.coordinates").getItem(0).as("x"),
        col("geometry.coordinates").getItem(1).as("y"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("event_id")).as("id_sum"),
        sum(expr("CAST(round(x * 10000) AS BIGINT)")).as("x_4dp"),
        sum(expr("CAST(round(y * 10000) AS BIGINT)")).as("y_4dp"))
  }

  val expGeojsonseqRoundtripSql: String = Pipeline73.roundTripSql

  /** A26 `exp_gpkg_roundtrip`: the reference's DEFAULT export format
    * (GPKG, H6) closed into the correctness gate — write a real
    * single-table GeoPackage (SQLite pages, b-trees, GP geometry
    * blobs; event_id as the fid rowid), read it BACK with
    * [[graft.sources.GpkgReader]] — an independent page-level SQLite
    * parse whose leaf pages decode on EXECUTORS — and aggregate vs
    * the ORIGINAL table. The one export format whose bytes no Spark
    * or DuckDB reader ever touches, now oracled end-to-end.
    */
  def expGpkgRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.util.SessionStage.dir(spark, dir, "rt_gpkg") { p =>
      val layer = Pipeline73.pointLayer(Tables(spark, dir))
        .select(col("event_id").as("fid"), col("event_type"),
          col("geometry").as("geom"))
      graft.`export`.Gpkg.write(layer, p.resolve("layer.gpkg").toString, "layer")
    }
    val back = graft.sources.GpkgReader
      .readFeatures(spark, d.resolve("layer.gpkg").toString, "layer")
      .select(col("fid").as("event_id"), col("event_type"),
        col("geom").as("geometry"))
    Pipeline73.roundTripAgg(back)
  }

  val expGpkgRoundtripSql: String = Pipeline73.roundTripSql

  /** D145 `q_jarque_bera`: Jarque–Bera normality test per return
    * flag over price cents — the distribution-shape gate a feature
    * pipeline runs before assuming Gaussian errors. Raw moments
    * Σx..Σx⁴ accumulate EXACTLY in DECIMAL(38,0) (Σx⁴ ≈ 6·10³³ at
    * sf0.1 — int64 dies at Σx²; HUGEINT twin on the oracle side,
    * the F15/D21 convention), central moments via the raw-moment
    * identities in fixed-order doubles, then
    * JB = n/6·(S² + (K−3)²/4), skewness S and kurtosis K emitted
    * 4 dp. One map-side-combined aggregate; 3 rows out.
    */
  def qJarqueBera(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS DECIMAL(12,0))").as("x"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2"),
        sum(col("x") * col("x") * col("x")).as("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
      .select(col("l_returnflag"), col("n"),
        expr("""
          round(CAST(n AS DOUBLE) / 6.0 * (
            pow((CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE)
                 - 3.0*(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE))
                 + 2.0*pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 3))
                / pow(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE)
                      - pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 2), 1.5), 2)
            + pow((CAST(s4 AS DOUBLE)/CAST(n AS DOUBLE)
                   - 4.0*(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE))
                   + 6.0*pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 2)*(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE))
                   - 3.0*pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 4))
                  / pow(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE)
                        - pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 2), 2) - 3.0, 2) / 4.0
          ), 4) AS jb""").as("jb"),
        expr("""
          round((CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE)
                 - 3.0*(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE))
                 + 2.0*pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 3))
                / pow(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE)
                      - pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 2), 1.5), 4) AS skewness""")
          .as("skewness"),
        expr("""
          round((CAST(s4 AS DOUBLE)/CAST(n AS DOUBLE)
                 - 4.0*(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))*(CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE))
                 + 6.0*pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 2)*(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE))
                 - 3.0*pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 4))
                / pow(CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE)
                      - pow(CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE), 2), 2), 4) AS kurtosis""")
          .as("kurtosis"))
  }

  val qJarqueBeraSql: String =
    """WITH m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(x) AS s1, sum(x*x) AS s2, sum(x*x*x) AS s3, sum(x*x*x*x) AS s4
      |  FROM (SELECT l_returnflag,
      |          CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS x
      |        FROM lineitem)
      |  GROUP BY 1),
      |d AS (
      |  SELECT l_returnflag, n,
      |    CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE) AS m1,
      |    CAST(s2 AS DOUBLE)/CAST(n AS DOUBLE) AS r2,
      |    CAST(s3 AS DOUBLE)/CAST(n AS DOUBLE) AS r3,
      |    CAST(s4 AS DOUBLE)/CAST(n AS DOUBLE) AS r4
      |  FROM m),
      |c AS (
      |  SELECT l_returnflag, n,
      |    (r3 - 3.0*m1*r2 + 2.0*pow(m1, 3)) / pow(r2 - pow(m1, 2), 1.5) AS sk,
      |    (r4 - 4.0*m1*r3 + 6.0*pow(m1, 2)*r2 - 3.0*pow(m1, 4)) / pow(r2 - pow(m1, 2), 2) AS ku
      |  FROM d)
      |SELECT l_returnflag, n,
      |  round(CAST(n AS DOUBLE) / 6.0 * (pow(sk, 2) + pow(ku - 3.0, 2) / 4.0), 4) + 0 AS jb,
      |  round(sk, 4) + 0 AS skewness,
      |  round(ku, 4) + 0 AS kurtosis
      |FROM c""".stripMargin

  /** D146 `q_levene`: Brown–Forsythe test (Levene with group
    * MEDIANS — the robust variant) for variance homogeneity of
    * price cents across return flags — the gate before pooled-
    * variance tests like D87's ANOVA. The absolute deviations are
    * kept EXACT: z = |2x − 2·median| is an integer because the R-7
    * median of integers is a half-integer (both engines' percentile
    * rule); Σz and Σz² accumulate in DECIMAL(38)/HUGEINT, and
    * W = ((N−k)/(k−1)) · Σnⱼ(z̄ⱼ−z̄)² / ΣΣ(z−z̄ⱼ)² is fixed-order
    * double from exact sums. Two aggregates + one broadcast-back of
    * a k-row median table.
    */
  def qLevene(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val x = t.lineitem.select(col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("x"))
    val med = x.groupBy(col("l_returnflag"))
      .agg((percentile(col("x"), lit(0.5)) * 2).cast("long").as("med2"))
    val z = x.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"),
        abs(col("x") * 2 - col("med2")).cast("decimal(12,0)").as("z"))
    val g = z.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("nj"), sum(col("z")).as("zj"),
        sum(col("z") * col("z")).as("z2j"))
    g.agg(
        count(lit(1)).as("k"),
        sum(col("nj")).as("n"),
        sum(col("zj")).as("zall"),
        // numerator / denominator pieces from exact per-group sums,
        // assembled in fixed-order double below
        sum((col("zj").cast("double") / col("nj").cast("double"))
          * (col("zj").cast("double") / col("nj").cast("double"))
          * col("nj").cast("double")).as("sum_nj_zbar2"),
        sum(col("z2j").cast("double")
          - col("zj").cast("double") * col("zj").cast("double")
            / col("nj").cast("double")).as("den"))
      .select(col("k"), col("n"),
        round(
          ((col("n").cast("double") - col("k").cast("double"))
            / (col("k").cast("double") - 1.0))
            * ((col("sum_nj_zbar2")
              - (col("zall").cast("double") * col("zall").cast("double"))
                / col("n").cast("double"))
              / col("den")), 4).as("w_stat"))
  }

  val qLeveneSql: String =
    """WITH x AS (
      |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS x
      |  FROM lineitem),
      |med AS (
      |  SELECT l_returnflag, CAST(quantile_cont(x, 0.5) * 2 AS BIGINT) AS med2
      |  FROM x GROUP BY 1),
      |z AS (
      |  SELECT x.l_returnflag, CAST(abs(x.x * 2 - med.med2) AS HUGEINT) AS z
      |  FROM x JOIN med ON x.l_returnflag = med.l_returnflag),
      |g AS (
      |  SELECT l_returnflag, count(*) AS nj, sum(z) AS zj, sum(z*z) AS z2j
      |  FROM z GROUP BY 1),
      |a AS (
      |  SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n,
      |    sum(zj) AS zall,
      |    sum((CAST(zj AS DOUBLE) / CAST(nj AS DOUBLE))
      |        * (CAST(zj AS DOUBLE) / CAST(nj AS DOUBLE))
      |        * CAST(nj AS DOUBLE)) AS sum_nj_zbar2,
      |    sum(CAST(z2j AS DOUBLE)
      |        - CAST(zj AS DOUBLE) * CAST(zj AS DOUBLE) / CAST(nj AS DOUBLE)) AS den
      |  FROM g)
      |SELECT k, n,
      |  round(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
      |    * ((sum_nj_zbar2 - CAST(zall AS DOUBLE) * CAST(zall AS DOUBLE) / CAST(n AS DOUBLE))
      |       / den), 4) + 0 AS w_stat
      |FROM a""".stripMargin

  /** D147 `q_two_proportion_z`: two-proportion z-test on A/B
    * conversion — arms by the D52 LCG parity, conversion =
    * 'purchase' events per user-event; z from the pooled-variance
    * formula, EXACT counts everywhere, one fixed-order double
    * expression at the end. Pairs D52's lift magnitude with its
    * significance — the experiment readout is incomplete without
    * both. One corpus aggregate, 1 row out.
    */
  def qTwoProportionZ(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val armed = t.events.select(
      pmod(Sampling.idBucket(col("user_id"), 1000000), lit(2)).as("arm"),
      (col("event_type") === "purchase").cast("long").as("conv"))
    armed.agg(
        count(when(col("arm") === 0, lit(1))).as("n_a"),
        count(when(col("arm") === 1, lit(1))).as("n_b"),
        sum(when(col("arm") === 0, col("conv"))).as("c_a"),
        sum(when(col("arm") === 1, col("conv"))).as("c_b"))
      .select(col("n_a"), col("n_b"), col("c_a"), col("c_b"),
        round(
          (col("c_a").cast("double") / col("n_a").cast("double")
            - col("c_b").cast("double") / col("n_b").cast("double"))
            / sqrt(
              ((col("c_a") + col("c_b")).cast("double")
                / (col("n_a") + col("n_b")).cast("double"))
                * (lit(1.0) - (col("c_a") + col("c_b")).cast("double")
                  / (col("n_a") + col("n_b")).cast("double"))
                * (lit(1.0) / col("n_a").cast("double")
                  + lit(1.0) / col("n_b").cast("double"))), 4).as("z"))
  }

  val qTwoProportionZSql: String =
    """WITH armed AS (
      |  SELECT ((((user_id % 1000000007) * 2654435761 + 1013904223) % 1000000007) % 1000000) % 2 AS arm,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      |  FROM events),
      |g AS (
      |  SELECT count(CASE WHEN arm = 0 THEN 1 END) AS n_a,
      |    count(CASE WHEN arm = 1 THEN 1 END) AS n_b,
      |    CAST(sum(CASE WHEN arm = 0 THEN conv END) AS BIGINT) AS c_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN conv END) AS BIGINT) AS c_b
      |  FROM armed)
      |SELECT n_a, n_b, c_a, c_b,
      |  round((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |         - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |    / sqrt((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |           * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 4) + 0 AS z
      |FROM g""".stripMargin
}
