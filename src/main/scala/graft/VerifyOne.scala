package graft
import java.nio.file.{Files, Paths}

/** Dump ONE registered query + its oracle for a fast local check:
  * `runMain graft.VerifyOne <name> <sfDir> <outDir>` then
  * `python3 tools/check_oracle.py <sfDir> <outDir>`. Same session
  * shape as Verify; avoids a full 100-query dump while iterating.
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = GraftSession.fromEnv("graft-verify-one")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.get(name)
      .map(sql => s"${q(name)}: ${q(sql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
