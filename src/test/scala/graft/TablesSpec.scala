package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The ts-encoding dispatch (Tables.normalizeTs / tsMicrosExpr /
  * tsBoundLit) pinned over all three physical encodings the driver's
  * generator has shipped. The LongType arm additionally pins EXACT
  * integral division: epoch nanos exceed double's 2^53 integer
  * precision, so a floating-point `/ 1000` truncates to M-1 for
  * about half of all micro-aligned values — the review finding this
  * spec closes.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // a micro-aligned nano timestamp where double division is lossy:
  // double(1706140800000016000)/1000 lands just below the true
  // quotient, so float-divide-then-truncate yields ...015999
  private val trickyNanos = 1706140800000016000L
  private val trickyUs = 1706140800000016L

  test("tsMicrosExpr is exact on nano-longs beyond double precision") {
    val df = Seq(trickyNanos, 7258118400000000000L, 0L, 999L).toDF("ts")
    val out = df.select(Tables.tsMicrosExpr(LongType, col("ts")).as("us"))
      .as[Long].collect().toSeq
    assert(out == Seq(trickyUs, 7258118400000000L, 0L, 0L))
    // the floating-point formulation this replaces IS lossy here —
    // proves the test would catch a regression
    val lossy = df.select((col("ts") / 1000L).cast(LongType).as("us"))
      .as[Long].collect().toSeq
    assert(lossy.head != trickyUs)
  }

  test("tsMicrosExpr and normalizeTs agree across all three encodings") {
    val us = trickyUs
    val long = Seq(us * 1000L).toDF("ts")
    val ntz = Seq(us).toDF("us").select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    val tst = Seq(us).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    for (df <- Seq(long, ntz, tst)) {
      val dt = df.schema("ts").dataType
      assert(df.select(Tables.tsMicrosExpr(dt, col("ts"))).head().getLong(0) == us, s"$dt")
      val norm = Tables.normalizeTs(df)
      assert(norm.schema("ts").dataType == TimestampType, s"$dt")
      assert(norm.select(unix_micros(col("ts"))).head().getLong(0) == us, s"$dt")
    }
  }

  test("tsBoundLit predicates match tsMicrosExpr semantics per encoding") {
    val us = trickyUs
    val long = Seq(us * 1000L - 1000L, us * 1000L, us * 1000L + 1000L).toDF("ts")
    val ntz = Seq(us - 1L, us, us + 1L).toDF("u")
      .select(timestamp_micros(col("u")).cast(TimestampNTZType).as("ts"))
    val tst = Seq(us - 1L, us, us + 1L).toDF("u")
      .select(timestamp_micros(col("u")).as("ts"))
    for (df <- Seq(long, ntz, tst)) {
      val dt = df.schema("ts").dataType
      val n = df.filter(col("ts") >= Tables.tsBoundLit(dt, us)).count()
      assert(n == 2, s"$dt: expected 2 rows at-or-after the bound, got $n")
    }
  }

  // ---- Tables.parquet: footer schema on the driver vs spark.read.parquet

  /** Optimized plan text with expression ids stripped. */
  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#")

  private def assertSameRead(s: SparkSession, path: String, clue: String): Unit = {
    val viaFooter = Tables.parquet(s, path)
    val viaSpark = s.read.parquet(path)
    assert(viaFooter.schema == viaSpark.schema, clue)
    assert(plan(viaFooter) == plan(viaSpark), clue)
  }

  private def tmpDir(): Path = Files.createTempDirectory("graft-tables")

  test("Tables.parquet matches spark.read.parquet on every committed table, nanosAsLong on and off") {
    val sf0_01 = Paths.get(sfDir).resolveSibling("sf0.01").toString
    val dirs = Seq(sfDir, sf0_01, Paths.get("perfbench/data/sf0.01").toAbsolutePath.toString)
    for (nanosAsLong <- Seq("true", "false")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
      for (d <- dirs; f <- new java.io.File(d).list().sorted if f.endsWith(".parquet")) {
        val path = s"$d/$f"
        assert(Tables.footerSchema(s, path).isDefined, s"$path read through the fallback")
        assertSameRead(s, path, s"$path nanosAsLong=$nanosAsLong")
      }
      val t = Tables(s, sf0_01)
      assert(t.events.schema("ts").dataType == TimestampType)
    }
  }

  test("Tables.parquet on a multi-file directory reads the first data file's footer, like Spark") {
    val d = tmpDir()
    tables.customer.repartition(3).write.parquet(s"$d/written")
    assert(Tables.footerSchema(spark, s"$d/written").isDefined)
    assertSameRead(spark, s"$d/written", "spark-written part files")
    assert(Tables.parquet(spark, s"$d/written").count() == tables.customer.count())

    // Files with different schemas: Spark takes the first data file by
    // path, so both must see nation's columns, not customer's.
    val mixed = Files.createDirectories(d.resolve("mixed"))
    Files.copy(Paths.get(s"$sfDir/nation.parquet"), mixed.resolve("a.parquet"))
    Files.copy(Paths.get(s"$sfDir/customer.parquet"), mixed.resolve("b.parquet"))
    assert(Tables.parquet(spark, mixed.toString).columns.contains("n_name"))
    assertSameRead(spark, mixed.toString, "mixed schemas")

    // A summary file wins over the data files in Spark: fallback.
    val summary = Files.createDirectories(d.resolve("summary"))
    Files.copy(Paths.get(s"$sfDir/customer.parquet"), summary.resolve("part-0.parquet"))
    Files.copy(Paths.get(s"$sfDir/nation.parquet"), summary.resolve("_common_metadata"))
    assert(Tables.footerSchema(spark, summary.toString).isEmpty)
    assertSameRead(spark, summary.toString, "summary file")
  }

  test("Tables.parquet leaves hive-partitioned dirs, mergeSchema and missing paths to Spark") {
    val d = tmpDir()
    val hive = s"$d/hive"
    tables.customer.write.partitionBy("c_mktsegment").parquet(hive)
    assert(Tables.footerSchema(spark, hive).isEmpty)
    assertSameRead(spark, hive, "hive-partitioned")
    assert(Tables.parquet(spark, hive).columns.last == "c_mktsegment")

    val merge = spark.newSession()
    merge.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(Tables.footerSchema(merge, s"$sfDir/nation.parquet").isEmpty)

    Files.createDirectories(d.resolve("empty"))
    for (missing <- Seq(s"$d/missing.parquet", s"$d/empty")) {
      val viaFooter = intercept[Exception](Tables.parquet(spark, missing))
      val viaSpark = intercept[Exception](spark.read.parquet(missing))
      assert(viaFooter.getClass == viaSpark.getClass, missing)
      assert(viaFooter.getMessage == viaSpark.getMessage, missing)
    }
  }

  test("Tables.table reads a rewritten table with its new schema") {
    val d = tmpDir()
    val target = d.resolve("t.parquet")
    Files.copy(Paths.get(s"$sfDir/nation.parquet"), target)
    assert(Tables(spark, d.toString).table("t").columns.contains("n_name"))
    Files.copy(Paths.get(s"$sfDir/region.parquet"), target, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables(spark, d.toString).table("t").columns.contains("r_name"))
  }
}
