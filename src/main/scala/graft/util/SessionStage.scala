package graft.util

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one store for intermediates a query builds once and reuses:
  * round-trip export files, staged stream backlogs, localCheckpoint
  * edge sets, fitted models. Query modules keep no cache of their own.
  *
  * '''Key.''' `(SparkSession, dir, name)`: an artifact is reused
  * within the session that built it, for one source directory (the
  * dir is an immutable released snapshot for the session's lifetime).
  * `spark.newSession()` builds its own copy. `name` identifies the
  * artifact and is also its temp-dir prefix (`graft_<name>_…`), so one
  * string names both the entry and what it leaves on disk.
  *
  * '''Single evaluation.''' The map holds a lazy holder per key, so a
  * concurrent first access may race to insert a holder but only the
  * winner's builder runs; every caller forces that one holder. A
  * builder that throws is dropped from the map: the next call builds
  * again.
  *
  * '''Failure cleanup.''' [[dir]] creates the directory and registers
  * it for deletion before `write` runs; if `write` throws, the
  * directory is deleted at once, so a failed build leaks nothing.
  *
  * '''Lifetime.''' The first use on a SparkContext adds one listener
  * to it. On `onApplicationEnd`, which `SparkContext.stop` posts
  * before it drains the listener bus and returns, the context's
  * directories are deleted and all entries of its sessions dropped.
  * One JVM-exit hook deletes what a context that was never stopped
  * still holds.
  *
  * '''Location.''' Directories live under `java.io.tmpdir`. They are
  * local files that driver-side readers (GeoPackage, FlatGeobuf,
  * stream sources) open directly, and `spark.local.dir` is Spark's
  * own block scratch, which may list several volumes. One staging
  * root keeps what a run writes in one place to account for.
  */
object SessionStage {

  private[util] final class Store {
    private final class Holder(build: () => Any) {
      lazy val value: Any = build()
    }
    private val entries = TrieMap.empty[(SparkSession, String, String), Holder]
    private val dirs = TrieMap.empty[Path, SparkContext]
    private val watched = TrieMap.empty[SparkContext, Unit]

    def value[V](spark: SparkSession, dir: String, name: String)(build: => V): V = {
      watch(spark.sparkContext)
      val key = (spark, dir, name)
      val h = entries.getOrElseUpdate(key, new Holder(() => build))
      try h.value.asInstanceOf[V]
      catch { case e: Throwable => entries.remove(key, h); throw e }
    }

    def dir(spark: SparkSession, dir: String, name: String)(write: Path => Unit): Path =
      value(spark, dir, name) {
        val p = Files.createTempDirectory(s"graft_${name}_")
        dirs.put(p, spark.sparkContext)
        try write(p)
        catch { case e: Throwable => delete(p); throw e }
        p
      }

    /** Delete `sc`'s directories and drop its sessions' entries. */
    def release(sc: SparkContext): Unit = {
      watched.remove(sc)
      entries.keys.filter(_._1.sparkContext eq sc).foreach(entries.remove)
      dirs.collect { case (p, c) if c eq sc => p }.foreach(delete)
    }

    def releaseAll(): Unit = dirs.keys.foreach(delete)

    private def delete(p: Path): Unit = {
      Fs.deleteRecursively(p)
      dirs.remove(p)
    }

    private def watch(sc: SparkContext): Unit =
      if (watched.putIfAbsent(sc, ()).isEmpty)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = release(sc)
        })
  }

  private val store = new Store
  Runtime.getRuntime.addShutdownHook(new Thread(() => store.releaseAll()))

  /** The value `build` returns, built once per (session, dir, name). */
  def value[V](spark: SparkSession, dir: String, name: String)(build: => V): V =
    store.value(spark, dir, name)(build)

  /** A directory under `java.io.tmpdir` filled once per (session, dir,
    * name) by `write`, deleted when the session's SparkContext stops.
    */
  def dir(spark: SparkSession, dir: String, name: String)(write: Path => Unit): Path =
    store.dir(spark, dir, name)(write)
}
