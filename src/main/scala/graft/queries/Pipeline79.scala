package graft.queries

import graft.Tables
import graft.functions.Wkb
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 batch: the last reference-surface gap — the MULTI-LAYER
  * single-file GeoPackage (reference export.py:80 "GPKG: Single
  * file with layers"; export.py:140 `_export_to_gpkg(data: dict,…)`
  * writes each dict entry as a layer named `{target}_{layer}`,
  * export.py:337-344). A reference user exporting `education` gets
  * ONE .gpkg holding `education_places` + `education_buildings`;
  * until this row the repo's writer produced two files.
  */
object Pipeline79 {

  /** A27 `exp_gpkg_multilayer`: two layers with DIFFERENT schemas —
    * places (events-derived points keyed by event_id) and buildings
    * (customer-derived points keyed by c_custkey) — written into
    * ONE GeoPackage through [[graft.export.Exporter.writeGpkgLayers]]
    * (reference layer naming `{target}_{layer}`), both read back by
    * the INDEPENDENT page-level [[graft.sources.GpkgReader]], then
    * aggregated per layer AND per in-layer group against the
    * ORIGINAL tables. Attributes, rowids and IEEE-exact coordinate
    * doubles all have to survive the SQLite b-tree round trip for
    * the hash to match.
    *
    * Scale shape: the single-file SQLite container is a
    * driver-streamed EXPORT format by design (the reference's
    * default CLI output, not the lake path — GeoParquet is); the
    * read back is distributed (leaf pages decode on executors).
    * Aggregates are map-side-combined; output is group-count-bounded.
    */
  def expGpkgMultilayer(t: Tables): DataFrame = {
    val d = graft.util.SessionStage.dir(t, "rt_gpkgml") { p =>
      val places = Pipeline73.pointLayer(t)
        .select(col("event_id").as("fid"), col("event_type"),
          col("geometry").as("geom"))
      val buildings = t.customer.select(
          col("c_custkey").cast("long").as("fid"),
          col("c_mktsegment"),
          Wkb.wkbFromXY(col("c_acctbal"),
            col("c_nationkey").cast("double")).as("geom"))
      graft.`export`.Exporter.writeGpkgLayers(
        Seq("places" -> places, "buildings" -> buildings),
        p.resolve("education.gpkg").toString, target = "education")
    }
    val path = d.resolve("education.gpkg").toString
    def layerAgg(table: String, grpCol: String): DataFrame =
      graft.sources.GpkgReader.readFeatures(t.spark, path, table)
        .select(col("fid"), col(grpCol).as("grp"),
          Wkb.wkbPointXY(col("geom")).as("p"))
        .groupBy(col("grp"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("fid")).as("id_sum"),
          sum(expr("CAST(round(p.x * 10000) AS BIGINT)")).as("x_4dp"),
          sum(expr("CAST(round(p.y * 10000) AS BIGINT)")).as("y_4dp"))
        .select(lit(table).as("layer"), col("grp"), col("n_rows"),
          col("id_sum"), col("x_4dp"), col("y_4dp"))
    layerAgg("education_places", "event_type")
      .unionAll(layerAgg("education_buildings", "c_mktsegment"))
  }

  /** A28 `exp_geojson_multilayer`: the reference's OTHER multilayer
    * route (export.py:266-296 `_export_to_geojson(dict)`): all
    * layers' features combine into ONE FeatureCollection, each
    * feature's properties gain a `layer` identifier, and the
    * metadata block carries per-layer counts + total_count. Staged
    * once via [[graft.export.Exporter.writeGeoJsonLayers]] with the
    * same two different-schema frames as A27, read back by Spark's
    * own multiLine JSON reader, and aggregated per (layer,
    * in-layer group) WITH the metadata layer count joined onto
    * every row — feature tagging, property round trip, AND the
    * metadata contract all sit under the hash.
    */
  def expGeojsonMultilayer(t: Tables): DataFrame = {
    val d = graft.util.SessionStage.dir(t, "rt_gjml") { p =>
      // Fixed staging panel (ids < 100000, a no-op at the oracle
      // scales): the single-file FeatureCollection is ONE json
      // object, so the read-back side is a single-task parse by
      // format definition — an unbounded panel would grow that one
      // task's heap linearly with corpus size (it OOMed at the sf10
      // probe). The multilayer WRITE path itself is driver-streamed
      // constant-memory either way; the 100 TB read-back path is
      // GeoJSONSeq (A25), not this.
      val places = t.events.select(
          col("event_id").cast("long").as("event_id"),
          col("event_type"),
          col("value").as("x"),
          get_json_object(col("props"), "$.k").cast("double").as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull &&
          col("event_id") < 100000)
      val buildings = t.customer.select(
          col("c_custkey").cast("long").as("fid"),
          col("c_mktsegment"),
          col("c_acctbal").as("x"),
          col("c_nationkey").cast("double").as("y"))
        .filter(col("fid") < 100000)
      graft.`export`.Exporter.writeGeoJsonLayers(
        Seq(
          ("places", places, graft.`export`.GeoJson.pointGeometry(col("x"), col("y"))),
          ("buildings", buildings, graft.`export`.GeoJson.pointGeometry(col("x"), col("y")))),
        p.resolve("education.geojson").toString, target = "education")
    }
    val doc = t.spark.read.option("multiLine", "true")
      .json(d.resolve("education.geojson").toString)
    val f = doc.select(explode(col("features")).as("f"),
      col("metadata.layers.places").as("n_places"),
      col("metadata.layers.buildings").as("n_buildings"))
    f.select(
        col("f.properties.layer").as("layer"),
        coalesce(col("f.properties.event_type"), col("f.properties.c_mktsegment")).as("grp"),
        coalesce(col("f.properties.event_id"), col("f.properties.fid")).as("id"),
        col("f.geometry.coordinates").getItem(0).as("x"),
        col("f.geometry.coordinates").getItem(1).as("y"),
        when(col("f.properties.layer") === "places", col("n_places"))
          .otherwise(col("n_buildings")).as("meta_n"))
      .groupBy(col("layer"), col("grp"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("id")).as("id_sum"),
        sum(expr("CAST(round(x * 10000) AS BIGINT)")).as("x_4dp"),
        sum(expr("CAST(round(y * 10000) AS BIGINT)")).as("y_4dp"),
        min(col("meta_n")).as("meta_n"))
  }

  val expGeojsonMultilayerSql: String =
    """WITH plf AS (
      |  SELECT event_id, event_type, x, y FROM (
      |    SELECT event_id, event_type, value AS x,
      |      CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |    FROM events WHERE event_id < 100000)
      |  WHERE x IS NOT NULL AND y IS NOT NULL),
      |bl AS (
      |  SELECT c_custkey AS id, c_mktsegment AS grp, c_acctbal AS x,
      |    CAST(c_nationkey AS DOUBLE) AS y
      |  FROM customer WHERE c_custkey < 100000)
      |SELECT 'places' AS layer, event_type AS grp, count(*) AS n_rows,
      |  CAST(sum(event_id) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(round(x * 10000) AS BIGINT)) AS BIGINT) AS x_4dp,
      |  CAST(sum(CAST(round(y * 10000) AS BIGINT)) AS BIGINT) AS y_4dp,
      |  CAST((SELECT count(*) FROM plf) AS BIGINT) AS meta_n
      |FROM plf GROUP BY event_type
      |UNION ALL
      |SELECT 'buildings' AS layer, grp, count(*) AS n_rows,
      |  CAST(sum(id) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(round(x * 10000) AS BIGINT)) AS BIGINT) AS x_4dp,
      |  CAST(sum(CAST(round(y * 10000) AS BIGINT)) AS BIGINT) AS y_4dp,
      |  CAST((SELECT count(*) FROM bl) AS BIGINT) AS meta_n
      |FROM bl GROUP BY grp""".stripMargin

  /** F18 `sim_ivf_eval`: the ANN EVAL harness for the similarity
    * lane — the F-family analogue of E33 `dd_lsh_eval` / K14
    * `mm_phash_eval`, and the strongest of the three: because BOTH
    * sides are already fully DuckDB-stated (F1's brute-force exact
    * top-5 and F4's complete IVF trajectory — centroids, probe
    * assignment, in-cell ranking), the recall itself is oracled
    * EXACTLY per query, not gated. Emits, per query vector, the
    * exact-top-k size and how many of those the nprobe=2 IVF run
    * recovered — any drift in centroid math, probe selection, or
    * tie-breaking on either side breaks the hash.
    *
    * Scale shape: reuses the two registry computations (broadcast
    * query set, label-partitioned base scan — the base table never
    * shuffles); the eval join moves 50 rows.
    */
  def simIvfEval(t: Tables): DataFrame = {
    val exact = LlmQueries.simCosineTopk(t)
      .select(col("query_id"), col("base_id"))
    val ivf = LlmQueries.simIvfAnn(t)
      .select(col("query_id"), col("base_id"), lit(1L).as("hit"))
    exact.join(ivf, Seq("query_id", "base_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_exact"),
        coalesce(sum(col("hit")), lit(0L)).as("n_recalled"))
  }

  val simIvfEvalSql: String =
    s"""WITH exact_pairs AS (
       |  SELECT query_id, base_id FROM (${LlmQueries.simCosineTopkSql})),
       |ivf_pairs AS (
       |  SELECT query_id, base_id, CAST(1 AS BIGINT) AS hit
       |  FROM (${LlmQueries.simIvfAnnSql}))
       |SELECT e.query_id, count(*) AS n_exact,
       |  CAST(coalesce(sum(i.hit), 0) AS BIGINT) AS n_recalled
       |FROM exact_pairs e
       |LEFT JOIN ivf_pairs i USING (query_id, base_id)
       |GROUP BY e.query_id""".stripMargin

  /** E34 `dd_simhash_eval`: the SimHash eval harness — like F18,
    * EXACTLY oracled rather than gated: the per-doc 60-bit simhash
    * is DuckDB-stated (E3's bit-op SQL), the banded candidate
    * generation at hamming ≤ 3 is pigeonhole-complete (so the
    * DuckDB brute-force hamming join states the SAME pair set), and
    * the exact 3-gram Jaccard truth is E4's SQL. Emits one row:
    * candidate count, truth count, and their overlap — the measured
    * answer to "what does a 60-bit word-level simhash at radius 3
    * actually buy against exact Jaccard ≥ 0.5". Any drift in the
    * fingerprint math, the banding, or the truth join on either
    * engine breaks the hash.
    *
    * Scale shape: [[graft.operators.Dedup.simhashNearDup]] — one
    * map pass, band-bucket equi-join (never all-pairs), exact
    * verify on candidates only; the truth side reuses the session
    * E4 pairs. (The DuckDB twin brute-forces the hamming join —
    * fine for an oracle, not the engine's plan.)
    */
  def ddSimhashEval(t: Tables): DataFrame = {
    // Fixed eval panel (doc_id < 2000): filter quality is measured
    // on a bounded doc set at every scale — the eval-set convention
    // (F18 measures on F1's fixed query set the same way). On this
    // templated corpus the unigram fingerprint is a WEAK filter
    // (even hamming-0 pairs abound), so an unbounded panel would
    // pay a quadratic candidate count just to restate the same
    // density estimate.
    val panel = t.documents.filter(col("doc_id") < 2000)
    val cand = graft.operators.Dedup
      .simhashNearDup(panel, "text", "doc_id", maxHamming = 3, nBands = 4)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val truth = LlmQueries.ngramPairs(t)
      .filter(col("doc_a") < 2000 && col("doc_b") < 2000)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    cand.join(truth, Seq("doc_a", "doc_b"), "left")
      .agg(
        count(lit(1)).as("n_cand"),
        coalesce(sum(col("t")), lit(0L)).as("n_overlap"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .select(col("n_cand"), col("n_truth"), col("n_overlap"))
  }

  val ddSimhashEvalSql: String =
    s"""WITH sh AS (
       |  SELECT * FROM (${LlmQueries.ddSimhashSql}) WHERE doc_id < 2000),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |truth AS (
       |  SELECT doc_a, doc_b FROM (${LlmQueries.ddNgramJaccardSql})
       |  WHERE doc_a < 2000 AND doc_b < 2000)
       |SELECT
       |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
       |  CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
       |  CAST((SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b)) AS BIGINT)
       |    AS n_overlap""".stripMargin

  /** E35 `dd_minhash_est_eval`: the third face of the MinHash eval
    * story, EXACTLY oracled — E33 scores candidate recall/precision
    * (gated); this row scores the SIGNATURE ESTIMATE itself: over
    * the pairs that appear in BOTH the LSH candidate set (E2) and
    * the exact-Jaccard truth (E4), the distribution of
    * |est_jaccard − jaccard| in ×10⁴ fixed point — count, summed
    * error, max error. Both inputs are 4-dp-rounded on both engines
    * and the error arithmetic is the identical expression on
    * identical rounded doubles, so the numbers (not gates) sit
    * under the hash. The expected scale: a k=32 signature has
    * std ≈ √(J(1−J)/32) ≈ 0.09 at J = 0.5 — the row states exactly
    * what ±9 points of estimate noise looks like on this corpus.
    */
  def ddMinhashEstEval(t: Tables): DataFrame = {
    val cand = graft.operators.Dedup
      .minhashLsh(t.documents, "text", "doc_id")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    val truth = LlmQueries.ngramPairs(t)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    cand.join(truth, Seq("doc_a", "doc_b"))
      .select(expr("CAST(round(abs(est_jaccard - jaccard) * 10000) AS BIGINT)").as("err"))
      .agg(
        count(lit(1)).as("n_scored"),
        coalesce(sum(col("err")), lit(0L)).as("sum_err_4dp"),
        coalesce(max(col("err")), lit(0L)).as("max_err_4dp"))
  }

  val ddMinhashEstEvalSql: String =
    s"""WITH cand AS (${LlmQueries.ddMinhashLshSql}),
       |truth AS (${LlmQueries.ddNgramJaccardSql})
       |SELECT count(*) AS n_scored,
       |  CAST(coalesce(sum(CAST(round(abs(est_jaccard - jaccard) * 10000) AS BIGINT)), 0)
       |    AS BIGINT) AS sum_err_4dp,
       |  CAST(coalesce(max(CAST(round(abs(est_jaccard - jaccard) * 10000) AS BIGINT)), 0)
       |    AS BIGINT) AS max_err_4dp
       |FROM cand JOIN truth USING (doc_a, doc_b)""".stripMargin

  /** H20 `exp_feature_upsert`: the FeatureService PUBLISH surface
    * (H4 — the reference's AGOL publish modes, publish.py / the
    * pipeline's initial/append/overwrite/auto smart-detect) closed
    * into the correctness gate. The row replays a deterministic
    * mode sequence against a staged service dir:
    *
    *   1. INITIAL  primary   ← orders where key%5=0
    *   2. APPEND   primary   ← orders where key%5=1
    *   3. AUTO     primary   ← key%10=0 rows re-published with
    *      doubled price and status 'U' — the upsert path: same-key
    *      rows replaced, others kept (reference upsert_key=id)
    *   4. OVERWRITE secondary ← key%7=2 then key%7=3 — the
    *      truncate-and-append: end state is the second batch only
    *
    * then reads both layers back via `FeatureService.readLayer` and
    * aggregates; DuckDB restates the exact end state from `orders`
    * alone. Every mode's semantics (create, add, key-reconciled
    * replace, truncate) must compose correctly for the hash to
    * match.
    *
    * Scale shape: publish writes are plain parquet writes (the Auto
    * upsert is one anti-join + union pass — at warehouse scale a
    * table format's MERGE replaces it, as the operator doc states);
    * the read-back aggregate is map-side combined.
    */
  def expFeatureUpsert(t: Tables): DataFrame = {
    import graft.`export`.{FeatureService, PublishMode}
    val svc = graft.util.SessionStage.dir(t, "rt_featsvc") { p =>
      val base = t.orders.select(
        col("o_orderkey").as("id"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
      val sp = p.resolve("service").toString
      FeatureService.publish(base.filter(pmod(col("id"), lit(5)) === 0),
        sp, "primary", PublishMode.Initial)
      FeatureService.publish(base.filter(pmod(col("id"), lit(5)) === 1),
        sp, "primary", PublishMode.Append)
      FeatureService.publish(
        base.filter(pmod(col("id"), lit(10)) === 0)
          .withColumn("status", lit("U"))
          .withColumn("price", col("price") * 2),
        sp, "primary", PublishMode.Auto)
      FeatureService.publish(base.filter(pmod(col("id"), lit(7)) === 2),
        sp, "secondary", PublishMode.Overwrite)
      FeatureService.publish(base.filter(pmod(col("id"), lit(7)) === 3),
        sp, "secondary", PublishMode.Overwrite)
    }.resolve("service").toString
    def layerAgg(layer: String): DataFrame =
      graft.`export`.FeatureService.readLayer(t.spark, svc, layer)
        .groupBy(col("status"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("id")).as("id_sum"),
          sum(expr("CAST(round(price * 100) AS BIGINT)")).as("cents"))
        .select(lit(layer).as("layer"), col("status"), col("n_rows"),
          col("id_sum"), col("cents"))
    layerAgg("primary").unionAll(layerAgg("secondary"))
  }

  val expFeatureUpsertSql: String =
    """WITH l1 AS (
      |  SELECT o_orderkey AS id,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS status,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 2 * o_totalprice ELSE o_totalprice END AS price
      |  FROM orders WHERE o_orderkey % 5 IN (0, 1)),
      |l2 AS (
      |  SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice AS price
      |  FROM orders WHERE o_orderkey % 7 = 3)
      |SELECT 'primary' AS layer, status, count(*) AS n_rows,
      |  CAST(sum(id) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM l1 GROUP BY status
      |UNION ALL
      |SELECT 'secondary' AS layer, status, count(*) AS n_rows,
      |  CAST(sum(id) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM l2 GROUP BY status""".stripMargin

  val expGpkgMultilayerSql: String =
    """SELECT 'education_places' AS layer, event_type AS grp,
      |  count(*) AS n_rows,
      |  CAST(sum(event_id) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(round(x * 10000) AS BIGINT)) AS BIGINT) AS x_4dp,
      |  CAST(sum(CAST(round(y * 10000) AS BIGINT)) AS BIGINT) AS y_4dp
      |FROM (SELECT event_id, event_type, value AS x,
      |        CAST(json_extract_string(props, '$.k') AS DOUBLE) AS y
      |      FROM events)
      |WHERE x IS NOT NULL AND y IS NOT NULL
      |GROUP BY event_type
      |UNION ALL
      |SELECT 'education_buildings' AS layer, c_mktsegment AS grp,
      |  count(*) AS n_rows,
      |  CAST(sum(c_custkey) AS BIGINT) AS id_sum,
      |  CAST(sum(CAST(round(c_acctbal * 10000) AS BIGINT)) AS BIGINT) AS x_4dp,
      |  CAST(sum(CAST(round(CAST(c_nationkey AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS y_4dp
      |FROM customer
      |GROUP BY c_mktsegment""".stripMargin
}
