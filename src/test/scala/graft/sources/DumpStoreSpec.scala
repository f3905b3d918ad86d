package graft.sources

import graft.{SparkSpec, Tables}
import java.nio.file.Files

/** Dump manager semantics (reference source.py:1092-1280): ensure is
  * idempotent, force re-fetches, completeness is commit-ordered
  * (metadata after data), failed fetches leave nothing behind, and a
  * release dir serves ref_* queries as a plain sf dir.
  */
class DumpStoreSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-dump").toString
  private val Rel = "2026-01"
  private val At = "2026-01-01T00:00:00"

  test("ensure fetches once, then serves the pinned copy") {
    val store = new DumpStore(spark, tmp())
    var fetches = 0
    def fetch = { fetches += 1; tables.table("region") }
    assert(!store.exists(Rel, "region"))
    store.ensure(Rel, "region", At)(fetch)
    assert(store.exists(Rel, "region") && fetches == 1)
    store.ensure(Rel, "region", At)(fetch) // hit: no re-fetch
    assert(fetches == 1)
    assert(store.read(Rel, "region").count() == tables.region.count())
  }

  test("force re-fetches; delete removes; list enumerates complete entries") {
    val store = new DumpStore(spark, tmp())
    var fetches = 0
    def fetch = { fetches += 1; tables.table("nation") }
    store.ensure(Rel, "nation", At)(fetch)
    store.ensure(Rel, "nation", At, force = true)(fetch)
    assert(fetches == 2)
    store.ensure("2026-02", "region", At)(tables.table("region"))
    assert(store.list().map(e => (e.release, e.theme)) ==
      Seq((Rel, "nation"), ("2026-02", "region")))
    assert(store.list().forall(_.rows > 0))
    assert(store.delete(Rel, "nation"))
    assert(!store.exists(Rel, "nation") && !store.delete(Rel, "nation"))
    assert(store.list().map(_.theme) == Seq("region"))
  }

  test("a failed fetch leaves no partial dump (reference :1230 cleanup)") {
    val store = new DumpStore(spark, tmp())
    intercept[RuntimeException] {
      store.ensure(Rel, "part", At)(
        tables.part.select(org.apache.spark.sql.functions
          .raise_error(org.apache.spark.sql.functions.lit("boom"))))
    }
    assert(!store.exists(Rel, "part"))
    assert(store.list().isEmpty)
  }

  test("data without committed metadata is not a complete dump") {
    val base = tmp()
    val store = new DumpStore(spark, base)
    // Simulate a crash after the parquet landed but before the
    // metadata commit: write data directly, no sidecar.
    tables.table("region").write.parquet(s"$base/release=$Rel/region.parquet")
    assert(!store.exists(Rel, "region"))
    // The next ensure completes the entry.
    store.ensure(Rel, "region", At)(tables.table("region"))
    assert(store.exists(Rel, "region"))
  }

  test("an ensured release dir serves ref_* queries as an sf dir") {
    val store = new DumpStore(spark, tmp())
    store.ensure(Rel, "part", At)(tables.table("part"))
    val fromDump = graft.queries.RefQueries.refRoads(Tables(spark, store.releaseDir(Rel)))
    val fromLake = graft.queries.RefQueries.refRoads(tables)
    assert(fromDump.except(fromLake).isEmpty && fromLake.except(fromDump).isEmpty)
  }

  test("release natural ordering: numeric runs, prefixes, total-order ties") {
    import DumpStore.compareReleases
    // The case plain string order gets wrong: .10 after .9.
    assert(compareReleases("2025-06-25.9", "2025-06-25.10") < 0)
    assert(compareReleases("2025-06-25.10", "2025-06-25.9") > 0)
    assert(compareReleases("2025-06-25.0", "2025-06-25.0") == 0)
    // A proper prefix sorts first; months/years compare numerically.
    assert(compareReleases("2025-06-25", "2025-06-25.1") < 0)
    assert(compareReleases("2025-06", "2025-07") < 0)
    assert(compareReleases("2024-12-31.5", "2025-01-01.0") < 0)
    // Natural tie (leading zeros) stays a deterministic total order.
    assert(compareReleases("1.02", "1.2") != 0)
    assert(math.signum(compareReleases("1.02", "1.2")) ==
      -math.signum(compareReleases("1.2", "1.02")))
  }

  test("latest resolves from newest complete dump, catalog.json wins") {
    val base = tmp()
    val store = new DumpStore(spark, base)
    // Empty store: latest is unresolvable, and says so.
    intercept[graft.ConfigError] { store.resolveRelease("latest") }
    // Non-latest specs pass through untouched (no store probe).
    assert(store.resolveRelease("2030-01-01.0") == "2030-01-01.0")
    store.ensure("2025-06-25.9", "region", At)(tables.table("region"))
    store.ensure("2025-06-25.10", "nation", At)(tables.table("nation"))
    // Natural order picks .10 over .9 (string order would not).
    assert(store.resolveRelease("latest") == "2025-06-25.10")
    // Incomplete data (no metadata commit) must not win `latest`.
    tables.table("region").write.parquet(s"$base/release=2026-12-31.0/region.parquet")
    assert(store.resolveRelease("latest") == "2025-06-25.10")
    // A catalog.json pin (the reference's STAC shape) takes priority.
    Files.write(java.nio.file.Paths.get(base, "catalog.json"),
      """{"latest": "2025-01-01.0", "type": "Catalog"}""".getBytes("UTF-8"))
    assert(store.resolveRelease("latest") == "2025-01-01.0")
    // A catalog that omits `latest` is an error (settings.py:53-55),
    // never a silent fallback.
    Files.write(java.nio.file.Paths.get(base, "catalog.json"),
      """{"type": "Catalog"}""".getBytes("UTF-8"))
    intercept[graft.ConfigError] { store.resolveRelease("latest") }
  }

  test("cli ensure-dump latest resolves before ensuring") {
    val base = tmp()
    val store = new DumpStore(spark, base)
    store.ensure("2026-02.1", "region", At)(tables.table("region"))
    graft.Cli.run(spark, Seq("ensure-dump", sfDir, base, "nation", "latest", s"--date=$At"))
    assert(store.exists("2026-02.1", "nation"))
    graft.Cli.run(spark, Seq("delete-dump", base, "nation", "latest"))
    assert(!store.exists("2026-02.1", "nation"))
  }

  test("cli verbs: ensure-dump / list-dumps / delete-dump dispatch") {
    val base = tmp()
    graft.Cli.run(spark, Seq("ensure-dump", sfDir, base, "region", Rel, s"--date=$At"))
    val store = new DumpStore(spark, base)
    assert(store.exists(Rel, "region"))
    graft.Cli.run(spark, Seq("list-dumps", base))
    graft.Cli.run(spark, Seq("delete-dump", base, "region", Rel))
    assert(!store.exists(Rel, "region"))
    intercept[IllegalArgumentException] {
      graft.Cli.run(spark, Seq("ensure-dump", sfDir, base, "nonsense", Rel))
    }
  }

  test("catalog.json's latest is read from the top level only") {
    val base = tmp()
    val store = new DumpStore(spark, base)
    val catalog = java.nio.file.Paths.get(base, "catalog.json")
    Files.write(catalog,
      """{"links": [{"rel": "child", "latest": "1999-01-01.0"}], "latest": "2025-01-01.0"}"""
        .getBytes("UTF-8"))
    assert(store.resolveRelease("latest") == "2025-01-01.0")
    // a nested "latest" alone is not the catalog's pin
    Files.write(catalog, """{"links": [{"latest": "1999-01-01.0"}]}""".getBytes("UTF-8"))
    intercept[graft.ConfigError] { store.resolveRelease("latest") }
  }

  test("a metadata sidecar cut short is an incomplete dump") {
    val base = tmp()
    val store = new DumpStore(spark, base)
    store.ensure(Rel, "region", At)(tables.table("region"))
    val rel = java.nio.file.Paths.get(base, s"release=$Rel")
    Files.write(rel.resolve("_dump_theme=region.json"),
      """{"release":"2026-01","theme":"region","rows":5,"is_compl""".getBytes("UTF-8"))
    // drop the checksum sidecar so the short file is read, not rejected by its checksum
    Files.deleteIfExists(rel.resolve("._dump_theme=region.json.crc"))
    val fresh = new DumpStore(spark, base)
    assert(!fresh.exists(Rel, "region") && fresh.list().isEmpty)
    fresh.ensure(Rel, "region", At)(tables.table("region"))
    assert(fresh.exists(Rel, "region"))
  }
}
