package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** A filtered Verify dump writes exactly the named rows and their
  * oracle SQL.
  */
class VerifySpec extends SparkSpec {

  test("a filtered run writes only the named result dirs and oracle keys") {
    val out = Files.createTempDirectory("graft_verify_spec")
    try {
      val rows = SparkEntry.select(Seq("src_limit", "src_filter_eq"))
      assert(Verify.dump(spark, rows, sfDir, out.toString).isEmpty)
      val dirs = Files.list(out).iterator.asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSet
      assert(dirs == Set("src_limit", "src_filter_eq"))
      val oracle = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
      assert(oracle.fieldNames.asScala.toSeq == Seq("src_limit", "src_filter_eq"))
      assert(oracle.get("src_limit").asText == SparkEntry.oracleSql("src_limit"))
    } finally graft.util.Fs.deleteRecursively(out)
  }
}
