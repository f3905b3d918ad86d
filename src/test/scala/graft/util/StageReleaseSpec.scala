package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Staged directories are released when the session's SparkContext
  * stops, not at JVM exit. The rows run in a child JVM with its own
  * `java.io.tmpdir`, so the check sees only what they leave behind.
  * This JVM never starts a session.
  */
class StageReleaseSpec extends graft.SparkSpec {

  test("stopping the session deletes every staged dir; a second session restages") {
    val root = Files.createTempDirectory("stage-release-spec")
    val tmp = Files.createDirectory(root.resolve("tmp"))
    val work = Files.createDirectory(root.resolve("work"))
    val log = root.resolve("child.log")
    try {
      // the parent's own --add-opens flags, in either spelling
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      val addOpens = jvmArgs.zip(jvmArgs.drop(1) :+ "").flatMap {
        case (a, v) if a == "--add-opens" => Seq(a, v)
        case (a, _) if a.startsWith("--add-opens=") => Seq(a)
        case _ => Nil
      }
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
        addOpens ++ Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp",
          "-cp", System.getProperty("java.class.path"),
          "graft.util.StageReleaseChild", sfDir)
      val proc = new ProcessBuilder(cmd: _*).directory(work.toFile)
        .redirectErrorStream(true).redirectOutput(log.toFile).start()
      if (!proc.waitFor(10, TimeUnit.MINUTES)) {
        proc.destroyForcibly()
        fail("child JVM did not finish in 10 minutes")
      }
      val out = Files.readAllLines(log).asScala
      withClue(out.filter(_.startsWith("[stage-release]")).mkString("\n") + "\n" +
          out.takeRight(20).mkString("\n")) {
        assert(proc.exitValue() == 0)
        assert(out.exists(_.startsWith("[stage-release] ok")))
      }
      assert(StageReleaseChild.staged(tmp).isEmpty)
    } finally Fs.deleteRecursively(root)
  }
}

/** Runs the staging rows in two sessions one after the other, exits 0
  * only if each `stop()` left no `graft_*` entry in `java.io.tmpdir`
  * and both sessions counted the same rows.
  */
object StageReleaseChild {

  val Rows: Seq[String] = Seq("exp_fgb_roundtrip", "exp_gpkg_roundtrip",
    "src_hive_partitioned", "src_schema_evolution", "src_malformed_jsonl", "st_late_drop")

  def staged(tmp: Path): Seq[String] = {
    val s = Files.list(tmp)
    try s.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith("graft_")).toList
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def check(ok: Boolean, msg: String): Unit =
      if (!ok) { println(s"[stage-release] FAIL $msg"); sys.exit(1) }
    def session(i: Int): Seq[Long] = {
      val spark = graft.GraftSession
        .builder(master = "local[2]", shufflePartitions = 2, appName = s"stage-release-$i")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val counts = Rows.map(r => graft.SparkEntry.queries(r)(spark, sfDir).count())
      val before = staged(tmp)
      check(before.size >= Rows.size, s"session $i staged only ${before.mkString(", ")}")
      spark.stop()
      val after = staged(tmp)
      check(after.isEmpty, s"session $i left ${after.mkString(", ")} after stop()")
      println(s"[stage-release] session $i: ${before.size} staged dirs released, rows ${counts.mkString(",")}")
      counts
    }
    val first = session(1)
    val second = session(2)
    check(first == second, s"row counts differ: $first vs $second")
    println("[stage-release] ok")
    sys.exit(0)
  }
}
