package graft

import graft.queries.QueryDef
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: `runMain graft.Verify <sfDir> <outDir>
  * [row[,row…]]` writes each selected row's result to
  * `<outDir>/<row>` as parquet, plus those rows' oracle SQL as
  * `oracle_sql.json`, for the DuckDB compare
  * (`tools/check_oracle.py`). No rows named means every row; a failed
  * row is reported on stderr and the rest still run.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val rows = SparkEntry.select(args.drop(2).toSeq.flatMap(_.split(",")))
    val spark = GraftSession.fromEnv("graft-verify")
    dump(spark, rows, sfDir, outDir)
    spark.stop()
  }

  /** Writes `rows`' results and oracle SQL under `outDir`; returns the
    * failed rows.
    */
  private[graft] def dump(
      spark: SparkSession,
      rows: Seq[QueryDef],
      sfDir: String,
      outDir: String
  ): Seq[(QueryDef, Throwable)] = {
    Files.createDirectories(Paths.get(outDir))
    val t = Tables(spark, sfDir)
    val failed = SparkEntry.runEach(spark, rows) { q =>
      q.fn(t).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
    }
    val oracle = rows.flatMap(q => q.oracle.map(q.name -> _))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), graft.config.JsonConfig.obj(oracle: _*))
    failed
  }
}
