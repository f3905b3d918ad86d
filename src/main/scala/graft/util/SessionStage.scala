package graft.util

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import graft.Tables

/** The one store for intermediates a query builds once and reuses:
  * round-trip export files, staged stream backlogs, localCheckpoint
  * edge sets, fitted models. Query modules keep no cache of their own.
  *
  * '''Key.''' Callers pass their table catalog; the key is its
  * session (by identity), its dir, and `name`. An artifact is reused
  * within the session that built it, for one source directory (the
  * dir is an immutable released snapshot for the session's lifetime).
  * A catalog over `spark.newSession()` builds its own copy. `name` identifies the
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
  * [[release]] does the same for one session. One JVM-exit hook
  * deletes what a context that was never stopped still holds.
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
    private val dirs = TrieMap.empty[Path, SparkSession]
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
        dirs.put(p, spark)
        try write(p)
        catch { case e: Throwable => delete(p); throw e }
        p
      }

    /** Delete `sc`'s directories and drop its sessions' entries. */
    def release(sc: SparkContext): Unit = {
      watched.remove(sc)
      release((s: SparkSession) => s.sparkContext eq sc)
    }

    /** Delete the directories and drop the entries of the sessions `of` selects. */
    def release(of: SparkSession => Boolean): Unit = {
      entries.keys.filter(k => of(k._1)).foreach(entries.remove)
      dirs.collect { case (p, s) if of(s) => p }.foreach(delete)
    }

    def releaseAll(): Unit = dirs.keys.foreach(delete)

    /** Only the caller that removes `p` from `dirs` deletes it: a context
      * release and the JVM-exit hook may race over the same dirs.
      */
    private def delete(p: Path): Unit = if (dirs.remove(p).isDefined) Fs.deleteRecursively(p)

    private def watch(sc: SparkContext): Unit =
      if (watched.putIfAbsent(sc, ()).isEmpty)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = release(sc)
        })
  }

  private val store = new Store
  Runtime.getRuntime.addShutdownHook(new Thread(() => store.releaseAll()))

  /** The value `build` returns, built once per (t.spark, t.dir, name). */
  def value[V](t: Tables, name: String)(build: => V): V =
    store.value(t.spark, t.dir, name)(build)

  /** A directory under `java.io.tmpdir` filled once per (t.spark, t.dir,
    * name) by `write`, deleted when the session's SparkContext stops.
    */
  def dir(t: Tables, name: String)(write: Path => Unit): Path =
    store.dir(t.spark, t.dir, name)(write)

  /** Drop `spark`'s entries and delete its directories now; its next call builds again. */
  def release(spark: SparkSession): Unit = store.release((s: SparkSession) => s eq spark)
}
