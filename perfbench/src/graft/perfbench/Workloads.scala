package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.{Cli, SparkEntry, Tables}
import graft.config.{QueryConfig, Settings}
import graft.`export`.GeoParquet
import graft.operators.{Dedup, Normalize, Similarity, TextOps}
import graft.sources.{FlatGeobufReader, GpkgReader, OvertureReader, ReadRequest, ShapefileReader}
import java.nio.file.{Files, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One call into a graft layer. `body` returns the items it handled
  * (features written, documents curated, registry rows answered);
  * `after` runs outside the timed window and returns the op's counters
  * (bytes in and out, pair counts).
  */
final class Op(val name: String, val body: () => Long,
    val after: Long => Map[String, Double] = _ => Map.empty, val detail: String = "")

/** Output-check results, printed by the runner and stored in the result. */
final class Checks {
  val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def apply(name: String, ok: Boolean, detail: String): Unit =
    synchronized(results += ((name, ok, detail)))
}

trait Workload {
  /** Set-up: parse the catalog and resolve each input table once.
    * Returns the config-layer time in ms.
    */
  def prepare(spark: SparkSession): Double
  /** One iteration's operations, bound to a fresh session. */
  def ops(spark: SparkSession, iteration: Int, traced: Boolean): Seq[Op]
  /** Read back and check what iteration `iteration` wrote; called after
    * the first and the last iteration, outside the timed window.
    */
  def verify(spark: SparkSession, iteration: Int): Unit = ()
  /** Run-level checks once the last iteration has ended. */
  def finish(): Unit = ()
  /** Construction cost of the source and transform layers (ms) for
    * this workload's inputs, on a fresh session; traced runs only.
    */
  def probe(spark: SparkSession): (Double, Double)
}

object Workload {
  def apply(name: String, spec: JsonNode, work: Path, checks: Checks): Workload = name match {
    case "etl_export"     => new EtlExport(spec, work, checks)
    case "corpus_curate"  => new CorpusCurate(spec, work, checks)
    case "registry_fixed" => new RegistryFixed(spec, work, checks)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Bytes of every regular file under `p` (or of `p` itself). */
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** The catalog's transform half, as `Cli` applies it to a source frame. */
  def transform(df: DataFrame): DataFrame =
    Normalize.addMetadata(Normalize.orderColumnsForPublish(Normalize.clipStrings(df)),
      "AFG", "Afghanistan", None, "1970-01-01")
}

import Workload.{delete, ms, sizeOf}

/** `Cli export` of every catalog entry: single-layer entries to five geo
  * formats, the multilayer entry to layered GPKG and GeoJSON.
  */
final class EtlExport(spec: JsonNode, work: Path, checks: Checks) extends Workload {
  private val sf = spec.get("sf_dir").asText
  private val catalog = spec.get("catalog_path").asText
  private final case class Entry(name: String, theme: String, filter: Option[String],
      multi: Boolean, bTheme: String, bFilter: Option[String], geom: String)
  private val entries = Json.elems(spec.get("catalog")).map { e =>
    def opt(k: String) = Option(e.get(k)).map(_.asText)
    Entry(e.get("name").asText, e.get("theme").asText, opt("filter"),
      opt("is_multilayer").contains("true"), opt("building_theme").getOrElse(""),
      opt("building_filter"), spec.get("geom").get(e.get("name").asText).asText)
  }
  private val expected = spec.get("expected")
  private def inBytes(theme: String): Double = spec.get("input_bytes").get(theme).asDouble
  private val single = Seq("geoparquet", "fgb", "gpkg", "geojson", "shp")
  private val layered = Seq("gpkg_layers" -> "gpkg", "geojson_layers" -> "geojson")

  private def iterDir(i: Int) = work.resolve("out").resolve(s"iter$i")
  private def target(i: Int, entry: String, fmt: String, ext: String): Path =
    iterDir(i).resolve(s"${entry}_$fmt").resolve(s"$entry.$ext")
  private def created(p: Path): Path = { Files.createDirectories(p.getParent); p }

  def prepare(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    QueryConfig.catalog(spark, catalog)
    val t = ms(t0)
    val tables = Tables(spark, sf)
    entries.flatMap(e => Seq(e.theme) ++ (if (e.multi) Seq(e.bTheme) else Nil)).distinct
      .foreach(tables.table)
    t
  }

  def ops(spark: SparkSession, i: Int, traced: Boolean): Seq[Op] = {
    delete(work.resolve("out"))
    entries.flatMap { e =>
      val args = (p: Path) => Seq("export", catalog, e.name, sf, p.toString, s"--geom=${e.geom}")
      if (!e.multi) single.map { fmt =>
        val p = created(target(i, e.name, fmt, fmt))
        new Op(s"export.$fmt", () => { Cli.run(spark, args(p)); expected.get(e.name).asLong },
          _ => Map("out_bytes" -> sizeOf(p.getParent).toDouble, "in_bytes" -> inBytes(e.theme)))
      } else layered.map { case (fmt, ext) =>
        val p = created(target(i, e.name, fmt, ext))
        val n = expected.get(e.name)
        new Op(s"export.$fmt", () => { Cli.run(spark, args(p)); n.get("places").asLong + n.get("buildings").asLong },
          _ => Map("out_bytes" -> sizeOf(p.getParent).toDouble,
            "in_bytes" -> (inBytes(e.theme) + inBytes(e.bTheme))))
      }
    }
  }

  override def verify(spark: SparkSession, i: Int): Unit = entries.foreach { e =>
    def check(fmt: String, want: Long)(got: => Long): Unit = {
      val name = s"etl_export.iter$i.${e.name}.$fmt.count"
      try {
        val n = got
        checks(name, n == want, s"read back $n features, source filter gives $want")
      } catch {
        case scala.util.control.NonFatal(x) =>
          checks(name, ok = false, s"read back failed: ${Runner.describe(x)}")
      }
    }
    if (!e.multi) {
      val want = expected.get(e.name).asLong
      def p(fmt: String) = target(i, e.name, fmt, fmt).toString
      check("geoparquet", want) {
        checks(s"etl_export.iter$i.${e.name}.geoparquet.geo_metadata",
          GeoParquet.geoMetadata(p("geoparquet")).exists(_.contains("primary_column")),
          "footer carries the `geo` key")
        spark.read.parquet(p("geoparquet")).count()
      }
      check("fgb", want)(FlatGeobufReader.read(spark, p("fgb")).count())
      check("gpkg", want)(GpkgReader.readFeatures(spark, p("gpkg"), e.name).count())
      check("geojson", want)(spark.read.option("multiLine", "true").json(p("geojson"))
        .select(size(col("features"))).head().getInt(0).toLong)
      check("shp", want)(ShapefileReader.read(spark, p("shp").stripSuffix(".shp")).count())
    } else {
      val n = expected.get(e.name)
      for (layer <- Seq("places", "buildings")) {
        val want = n.get(layer).asLong
        check(s"gpkg_layers.$layer", want)(GpkgReader.readFeatures(spark,
          target(i, e.name, "gpkg_layers", "gpkg").toString, s"${e.name}_$layer").count())
        check(s"geojson_layers.$layer", want)(spark.read.option("multiLine", "true")
          .json(target(i, e.name, "geojson_layers", "geojson").toString)
          .select(explode(col("features")).as("f"))
          .filter(col("f.properties.layer") === layer).count())
      }
    }
  }

  def probe(spark: SparkSession): (Double, Double) = {
    val t = Tables(spark, sf)
    val t0 = System.nanoTime()
    val frames = entries.map { e =>
      if (e.multi) OvertureReader.readMultilayer(t, Seq(
        "places" -> ReadRequest(e.theme, filter = e.filter),
        "buildings" -> ReadRequest(e.bTheme, filter = e.bFilter)))
      else OvertureReader.read(t, ReadRequest(e.theme, filter = e.filter))
    }
    val src = ms(t0)
    val t1 = System.nanoTime()
    frames.foreach(Workload.transform)
    (src, ms(t1))
  }
}

/** Training-data curation: quality + language filter, MinHash LSH and
  * connected components, SimHash near-dup, embedding near-dup and IVF
  * search; every stage writes its result as parquet.
  */
final class CorpusCurate(spec: JsonNode, work: Path, checks: Checks) extends Workload {
  private val sf = spec.get("sf_dir").asText
  private val docRows = spec.get("input_rows").get("documents").asLong
  private val vecRows = spec.get("input_rows").get("embeddings").asLong
  private val docBytes = spec.get("input_bytes").get("documents").asDouble
  private val vecBytes = spec.get("input_bytes").get("embeddings").asDouble
  private val counts = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Long]]

  def prepare(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    Settings.load(env = sys.env.toMap)
    val t = ms(t0)
    val tables = Tables(spark, sf)
    tables.documents
    tables.embeddings
    t
  }

  private def kept(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.langId(col("text")).as("lang_pred"))
      .filter(col("quality") >= 0.5 && col("lang_pred") =!= "und")
      .select(col("doc_id"), col("text"))

  private def iterDir(i: Int) = work.resolve("out").resolve(s"iter$i")
  private def rows(spark: SparkSession, i: Int, stage: String) =
    spark.read.parquet(iterDir(i).resolve(stage).toString)
  private def pairs(minhash: DataFrame) = minhash.filter(col("est_jaccard") >= 0.5)
  private var rounds = 0

  def ops(spark: SparkSession, i: Int, traced: Boolean): Seq[Op] = {
    delete(work.resolve("out"))
    val dir = iterDir(i)
    val t = Tables(spark, sf)
    def out(stage: String) = dir.resolve(stage).toString
    def wrote(stage: String, inB: Double) =
      Map("out_bytes" -> sizeOf(dir.resolve(stage)).toDouble, "in_bytes" -> inB)
    // candidate and pair counts feed the per-layer metrics: traced runs only
    def counted(m: => Map[String, Double]) = if (traced) m else Map.empty[String, Double]
    Seq(
      new Op("operators.text.quality", () => {
        kept(t.documents).write.parquet(out("kept")); docRows
      }, _ => wrote("kept", docBytes)),
      new Op("operators.dedup.minhash", () => {
        Dedup.minhashLsh(spark.read.parquet(out("kept")), "text", "doc_id")
          .write.parquet(out("minhash")); 0L
      }, _ => wrote("minhash", 0.0) ++ counted {
        val m = rows(spark, i, "minhash")
        Map("candidates" -> m.count().toDouble, "pairs" -> pairs(m).count().toDouble)
      }),
      new Op("operators.dedup.cc", () => {
        val (labels, r) = Dedup.connectedComponentsWithRounds(
          pairs(spark.read.parquet(out("minhash"))), "doc_a", "doc_b")
        rounds = r
        labels.write.parquet(out("components")); 0L
      }, _ => wrote("components", 0.0) ++ Map("rounds" -> rounds.toDouble)),
      new Op("operators.dedup.simhash", () => {
        Dedup.simhashNearDup(spark.read.parquet(out("kept")), "text", "doc_id",
          maxHamming = 3, nBands = 4).write.parquet(out("simhash")); 0L
      }, _ => wrote("simhash", 0.0) ++ counted {
        // distinct pairs sharing a band key, before the Hamming filter
        val b = Dedup.simhashBands(spark.read.parquet(out("kept")), "text", "doc_id", nBands = 4)
        Map("pairs" -> rows(spark, i, "simhash").count().toDouble,
          "candidates" -> b.as("a").join(b.as("b"), col("a.band") === col("b.band") &&
              col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id"), col("b.doc_id")).distinct().count().toDouble)
      }),
      new Op("operators.similarity.neardup", () => {
        Similarity.embeddingNearDup(t.embeddings, "vec_id", "embedding",
          dim = 64, planes = 6, threshold = 0.35, seed = 42L).write.parquet(out("neardup"))
        vecRows
      }, _ => wrote("neardup", vecBytes)),
      new Op("operators.similarity.ivf", () => {
        val e = t.embeddings
        Similarity.ivfAnn(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
          nprobe = 2, k = 5).write.parquet(out("ivf")); 0L
      }, _ => wrote("ivf", 0.0)))
  }

  /** Every stage's row count (components: distinct labels) and the CC
    * rounds of iteration `i`.
    */
  override def verify(spark: SparkSession, i: Int): Unit = {
    val c = mutable.LinkedHashMap.empty[String, Long]
    for (stage <- Seq("kept", "minhash", "simhash", "neardup", "ivf"))
      c(stage) = rows(spark, i, stage).count()
    c("minhash_pairs") = pairs(rows(spark, i, "minhash")).count()
    c("components") = rows(spark, i, "components").select(col("component")).distinct().count()
    c("cc_rounds") = rounds
    counts(i) = c
  }

  override def finish(): Unit = {
    val (i1, first) = counts.head
    counts.tail.foreach { case (i, c) =>
      checks(s"corpus_curate.iter$i.counts_repeat", c == first,
        s"iteration $i counts ${c.mkString(",")} vs iteration $i1 ${first.mkString(",")}")
    }
    checks("corpus_curate.nonempty", Seq("kept", "components", "simhash", "neardup")
      .forall(first.get(_).exists(_ > 0)), s"counts ${first.mkString(",")}")
  }

  def probe(spark: SparkSession): (Double, Double) = {
    val t = Tables(spark, sf)
    val t0 = System.nanoTime()
    val docs = t.documents
    t.embeddings
    val src = ms(t0)
    val t1 = System.nanoTime()
    kept(docs)
    (src, ms(t1))
  }
}

/** The GIS-ETL registry rows in a seeded order, all on one fresh session
  * per iteration: construct each row's DataFrame, then `.count()` it.
  */
final class RegistryFixed(spec: JsonNode, work: Path, checks: Checks) extends Workload {
  private val sf = spec.get("sf_dir").asText
  private val order = Json.elems(spec.get("order")).map(_.asText)
  private val expected = spec.get("expected")
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private val inBytes = Json.fields(spec.get("input_bytes")).map(_._2.asDouble).sum
  private val memoRow = "exp_fgb_roundtrip"
  private val memoJobs = mutable.LinkedHashMap.empty[Int, Long]
  private val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val jobCounter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        jobsByGroup.merge(g, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
      }
  }

  def prepare(spark: SparkSession): Double = {
    spark.sparkContext.addSparkListener(jobCounter)
    val t0 = System.nanoTime()
    val registry = SparkEntry.queries
    val t = ms(t0)
    order.foreach(n => require(registry.contains(n), s"registry has no row $n"))
    val tb = Tables(spark, sf)
    tables.foreach(tb.table)
    t
  }

  def ops(spark: SparkSession, i: Int, traced: Boolean): Seq[Op] = {
    val sc = spark.sparkContext
    val registry = SparkEntry.queries
    // Rows stage their outputs under java.io.tmpdir: what one iteration
    // adds there is its output volume.
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val tmp0 = sizeOf(tmp)
    order.zipWithIndex.flatMap { case (name, k) =>
      val group = s"iter$i:$name"
      var df: DataFrame = null
      var rows = -1L
      Seq(
        new Op("queries.construct", () => {
          sc.setJobGroup(group, name, interruptOnCancel = false)
          df = registry(name)(spark, sf); 0L
        }, detail = name),
        new Op("queries.action", () => {
          try rows = df.count() finally sc.clearJobGroup()
          1L
        }, { _ =>
          val want = expected.get(name).asLong
          checks(s"registry_fixed.iter$i.$name.rows", rows == want, s"counted $rows rows, want $want")
          if (name == memoRow) {
            org.apache.spark.PerfbenchBus.drain(sc)
            memoJobs(i) = Option(jobsByGroup.get(group)).map(_.longValue).getOrElse(0L)
          }
          if (k < order.size - 1) Map.empty
          else Map("in_bytes" -> inBytes, "out_bytes" -> (sizeOf(tmp) - tmp0).toDouble)
        }, name))
    }
  }

  override def finish(): Unit = {
    val (i1, j1) = memoJobs.head
    memoJobs.tail.foreach { case (i, j) =>
      checks(s"registry_fixed.memo.$memoRow.jobs_iter$i", j == j1 && j > 0,
        s"$memoRow ran $j jobs in iteration $i and $j1 in iteration $i1")
    }
  }

  def probe(spark: SparkSession): (Double, Double) = {
    val tb = Tables(spark, sf)
    val t0 = System.nanoTime()
    val frames = tables.map(tb.table)
    val src = ms(t0)
    val t1 = System.nanoTime()
    frames.foreach(Workload.transform)
    (src, ms(t1))
  }
}
