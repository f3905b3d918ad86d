package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import scala.util.control.NonFatal

/** Catalog over the driver-generated parquet tables in an sf dir.
  *
  * Mirrors the reference's source-registry role
  * (reference: src/o2agol/pipeline/source.py:383-395 — parquet URL
  * construction per theme/type): here every table is a parquet
  * path under one scale-factor directory, read through
  * [[Tables.parquet]] so Catalyst owns pushdown and pruning.
  *
  * Schemas come from footers on the driver: a plain
  * `spark.read.parquet` runs one Spark job per read just to infer
  * the schema, which for the small tables of an export call costs
  * more than reading them. [[Tables.parquet]] reads the footer of
  * the table's first data file itself and hands Spark the result.
  * Nothing is cached, so a rewritten table is never read with a
  * stale schema.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def events: DataFrame = Tables.normalizeTs(table("events"))
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {

  /** `spark.read.parquet(path)` without the schema-inference job.
    *
    * With `mergeSchema` off, Spark infers a parquet schema from one
    * footer: the first data file by path, unless a `_metadata` or
    * `_common_metadata` summary file is present. This reads that
    * same footer on the driver, converts it with Spark's own
    * converter, and returns `spark.read.schema(s).parquet(path)`:
    * the same schema and the same plan, minus the job. Every other
    * case is left to a plain `spark.read.parquet(path)`, so Spark's
    * own errors and partition discovery stay unchanged: a missing
    * path, a glob, a directory with subdirectories (hive partitions),
    * summary files or no data files, `mergeSchema` on, or a footer
    * that cannot be read.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** The schema Spark would infer for `path`, when it comes from a
    * single footer (see [[parquet]]); None when Spark must decide.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      // A file lists as itself; a missing path throws.
      val files = root.getFileSystem(hadoopConf).listStatus(root)
        .filterNot(f => hidden(f.getPath.getName))
      if (files.exists(f => f.isDirectory || summaryFile(f.getPath.getName))) None
      else files.sortBy(_.getPath.toString).headOption.map { f =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, meta), new ParquetToSparkSchemaConverter(conf))
      }
    } catch { case NonFatal(_) => None }
  }

  // Names Spark's file listing skips (HadoopFSUtils.shouldFilterOutPathName);
  // it keeps the parquet summary files, which send a read to the fallback.
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) && !summaryFile(name)
  private def summaryFile(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** Normalize the `ts` column to session-zone TIMESTAMP whatever
    * physical type the driver's generator wrote it as. The testdata
    * has shipped with two encodings across rounds:
    *   - TIMESTAMP(NANOS) → epoch-nano LONG under
    *     `spark.sql.legacy.parquet.nanosAsLong`, truncated here to
    *     micros (the same truncation DuckDB applies);
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ,
    *     reinterpreted as UTC wall time (sessions run UTC, so the
    *     instant — and every oracle comparison — is unchanged).
    * Dispatching on the observed schema instead of pinning one
    * encoding keeps every events-derived query working when the
    * generator changes, instead of failing 59-wide as in round 7.
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(s"unexpected $colName type: $other")
    }

  /** Epoch-microseconds expression over a RAW (un-normalized) ts
    * column, dispatched the same way as [[normalizeTs]] — for code
    * that must predicate on the original column without rewriting
    * it (e.g. staging files in their source encoding).
    */
  def tsMicrosExpr(dt: org.apache.spark.sql.types.DataType, c: Column): Column = dt match {
    // INTEGRAL division: `c / 1000` is double math, and epoch nanos
    // (~1.7e18) exceed double's 2^53 integer precision — the lossy
    // quotient truncates to M-1 for about half of all micro-aligned
    // values. SQL `div` (IntegralDivide) is exact.
    case LongType          => call_function("div", c, lit(1000L))
    case TimestampNTZType  => unix_micros(c.cast(TimestampType))
    case TimestampType     => unix_micros(c)
    case other =>
      throw new IllegalStateException(s"unexpected ts type: $other")
  }

  /** Epoch-micros bound as a literal of the raw ts column's OWN
    * physical type, so `ts >= bound` stays a plain column-vs-literal
    * comparison parquet row-group stats can prune — wrapping the
    * column in a conversion instead would defeat pushdown.
    */
  def tsBoundLit(dt: org.apache.spark.sql.types.DataType, us: Long): Column = dt match {
    case LongType         => lit(us * 1000L) // nanos encoding
    case TimestampNTZType => lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))
    case TimestampType    => lit(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    case other =>
      throw new IllegalStateException(s"unexpected ts type: $other")
  }
}
