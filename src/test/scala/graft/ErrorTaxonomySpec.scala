package graft

import graft.`export`.{Exporter, ExportFormat, FeatureService, PublishMode}
import graft.sources.DumpStore
import org.apache.spark.sql.functions._

/** The typed error taxonomy (errors.scala; reference errors.py:30-84):
  * pipeline failures carry a {country, theme, release, stage}-style
  * context map, raised from the DumpStore/FeatureService/Exporter
  * error paths and ENRICHED (not replaced) one frame up in the CLI.
  */
class ErrorTaxonomySpec extends SparkSpec {
  import spark.implicits._

  /** Every dir and file the spec creates; deleted when it finishes. */
  private val created = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_errspec_")
    created += d
    d.toString
  }

  override def afterAll(): Unit =
    try created.foreach(graft.util.Fs.deleteRecursively)
    finally super.afterAll()

  test("ensure-dump fetch failure raises OvertureError with {release, theme, stage} and the cause") {
    val store = new DumpStore(spark, tmp())
    val e = intercept[OvertureError] {
      store.ensure("2026-01-01.0", "part", "2026-01-01T00:00:00") {
        Tables(spark, sfDir).part.select(raise_error(lit("boom")))
      }
    }
    assert(e.context("release") == "2026-01-01.0")
    assert(e.context("theme") == "part")
    assert(e.context("stage") == "ensure-dump")
    assert(e.getCause != null, "the raising exception must ride as the cause")
    assert(e.getMessage.contains("context={"), "rendered message embeds the context")
    // ...and the failure still leaves no partial dump behind.
    assert(!store.exists("2026-01-01.0", "part"))
  }

  test("ensure-dump input validation raises ConfigError with context") {
    val store = new DumpStore(spark, tmp())
    val e = intercept[ConfigError] {
      store.ensure("bad,release", "part", "2026-01-01T00:00:00") {
        Tables(spark, sfDir).part
      }
    }
    assert(e.context("stage") == "ensure-dump" && e.context("release") == "bad,release")
  }

  test("reading a missing dump raises OvertureError with {release, theme, stage=read-dump}") {
    val store = new DumpStore(spark, tmp())
    val e = intercept[OvertureError] { store.read("2026-01-01.0", "nation") }
    assert(e.context == Map(
      "release" -> "2026-01-01.0", "theme" -> "nation", "stage" -> "read-dump"))
  }

  test("unresolvable 'latest' raises ConfigError; CLI enriches it with {theme, command}") {
    val base = tmp()
    val e = intercept[ConfigError] { new DumpStore(spark, base).resolveRelease("latest") }
    assert(e.context("stage") == "resolve-release")
    // CLI frame adds what only it knows — same class, same cause,
    // superset context (the ensure-dump failure shape end-to-end).
    val cli = intercept[ConfigError] {
      graft.Cli.run(spark, Seq("ensure-dump", sfDir, base, "nation", "latest"))
    }
    assert(cli.context("stage") == "resolve-release")
    assert(cli.context("theme") == "nation")
    assert(cli.context("command") == "ensure-dump")
  }

  test("publish failure raises PublishError with {service, layer, mode, stage}") {
    val svc = tmp()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    FeatureService.publish(df, svc, "roads", PublishMode.Initial)
    val e = intercept[PublishError] {
      FeatureService.publish(df, svc, "roads", PublishMode.Initial)
    }
    assert(e.context("service") == svc)
    assert(e.context("layer") == "roads")
    assert(e.context("mode") == "Initial")
    assert(e.context("stage") == "publish")
    assert(e.getCause.isInstanceOf[IllegalStateException],
      "the layer-exists shape rides as the cause")
  }

  test("CLI publish enriches a PublishError with {country, command}") {
    val svc = tmp()
    val catalog = java.nio.file.Files.createTempFile("graft_cat_", ".json")
    created += catalog
    java.nio.file.Files.write(catalog,
      """[{"name": "roads", "theme": "supplier", "type": "site",
        |  "upsert_key": "s_suppkey"}]""".stripMargin.getBytes("UTF-8"))
    // First publish creates the layer; the second (mode=initial)
    // must fail through the enriched typed path.
    graft.Cli.run(spark, Seq("publish", catalog.toString, "roads", sfDir, svc,
      "--mode=initial", "--country=KEN"))
    val e = intercept[PublishError] {
      graft.Cli.run(spark, Seq("publish", catalog.toString, "roads", sfDir, svc,
        "--mode=initial", "--country=KEN"))
    }
    assert(e.context("country") == "KEN")
    assert(e.context("command") == "publish")
    assert(e.context("layer") == "roads" && e.context("stage") == "publish")
  }

  test("export failures raise ExportError with {path|format, stage}") {
    val bad = intercept[ExportError] { ExportFormat.fromPath("out.xyz") }
    assert(bad.context("format") == "xyz" && bad.context("stage") == "export")
    val dir = tmp()
    val noGeom = intercept[ExportError] {
      Exporter.write(Seq((1L, 2.0)).toDF("id", "v"), s"$dir/t.gpkg", ExportFormat.Gpkg)
    }
    assert(noGeom.context("path") == s"$dir/t.gpkg")
    assert(noGeom.context("format") == "Gpkg" && noGeom.context("stage") == "export")
  }

  test("enrich preserves subclass and cause; extra keys win collisions") {
    val cause = new RuntimeException("root")
    val e = new PublishError("x", Map("stage" -> "publish", "layer" -> "l"), cause)
    val en = GraftError.enrich(e, Map("stage" -> "publish-sectors", "country" -> "AFG"))
    assert(en.isInstanceOf[PublishError])
    assert(en.getCause eq cause)
    assert(en.context == Map(
      "stage" -> "publish-sectors", "layer" -> "l", "country" -> "AFG"))
  }
}
