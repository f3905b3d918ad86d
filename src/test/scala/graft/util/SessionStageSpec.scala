package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.{SparkSpec, Tables}

class SessionStageSpec extends SparkSpec {

  private def key(): String = "spec-" + java.util.UUID.randomUUID()

  /** Entries of java.io.tmpdir whose name starts with `graft_<name>_`. */
  private def onDisk(name: String): Seq[Path] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.iterator.asScala.filter(_.getFileName.toString.startsWith(s"graft_${name}_")).toList
    finally s.close()
  }

  test("builder runs exactly once under concurrent first access") {
    val dir = key()
    val calls = new AtomicInteger(0)
    val threads = (1 to 16).map { _ =>
      new Thread(() => {
        val v = SessionStage.value(Tables(spark, dir), "once") {
          Thread.sleep(10) // widen the race window
          calls.incrementAndGet()
        }
        assert(v == 1)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(calls.get() == 1)
    assert(SessionStage.value(Tables(spark, dir), "once")(calls.incrementAndGet()) == 1)
    assert(calls.get() == 1)
  }

  test("distinct keys build independently") {
    val (d1, d2) = (key(), key())
    assert(SessionStage.value(Tables(spark, d1), "v")("a") == "a")
    assert(SessionStage.value(Tables(spark, d2), "v")("b") == "b")
    assert(SessionStage.value(Tables(spark, d1), "w")("c") == "c")
    assert(SessionStage.value(Tables(spark, d1), "v")("d") == "a")
  }

  test("one session stages one dir; two sessions stage two") {
    val dir = key()
    val writes = new AtomicInteger(0)
    def stage(s: org.apache.spark.sql.SparkSession): Path =
      SessionStage.dir(Tables(s, dir), "spec_sessions") { p =>
        writes.incrementAndGet()
        Files.writeString(p.resolve("part"), "x")
      }
    val (a, b) = (spark.newSession(), spark.newSession())
    val a1 = stage(a)
    assert(stage(a) == a1)
    val b1 = stage(b)
    assert(b1 != a1)
    assert(writes.get() == 2)
    Seq(a1, b1).foreach { p =>
      assert(p.getParent == Paths.get(System.getProperty("java.io.tmpdir")))
      assert(p.getFileName.toString.startsWith("graft_spec_sessions_"))
      assert(Files.readString(p.resolve("part")) == "x")
    }
  }

  test("a write that throws leaves no dir, and the next call rebuilds") {
    val (dir, name) = (key(), "spec_fail_" + System.nanoTime())
    val e = intercept[IllegalStateException] {
      SessionStage.dir(Tables(spark, dir), name) { p =>
        Files.writeString(p.resolve("partial"), "half")
        throw new IllegalStateException("write failed")
      }
    }
    assert(e.getMessage == "write failed")
    assert(onDisk(name).isEmpty)
    val p = SessionStage.dir(Tables(spark, dir), name)(p => Files.writeString(p.resolve("part"), "ok"))
    assert(Files.readString(p.resolve("part")) == "ok")
    assert(onDisk(name) == Seq(p))
  }

  test("release(session) deletes that session's dirs and entries; another session's survive") {
    val dir = key()
    val name = "spec_release_session_" + System.nanoTime()
    val (a, b) = (spark.newSession(), spark.newSession())
    val pa = SessionStage.dir(Tables(a, dir), name)(p => Files.writeString(p.resolve("part"), "a"))
    val pb = SessionStage.dir(Tables(b, dir), name)(p => Files.writeString(p.resolve("part"), "b"))
    assert(SessionStage.value(Tables(a, dir), "v")(1) == 1 && SessionStage.value(Tables(b, dir), "v")(1) == 1)
    SessionStage.release(a)
    assert(!Files.exists(pa))
    assert(onDisk(name) == Seq(pb))
    assert(SessionStage.value(Tables(a, dir), "v")(2) == 2)
    assert(SessionStage.value(Tables(b, dir), "v")(2) == 1)
    assert(SessionStage.dir(Tables(b, dir), name)(_ => ()) == pb)
    SessionStage.release(b)
    assert(onDisk(name).isEmpty)
  }

  test("a context release racing the JVM-exit release deletes each dir once, without error") {
    val store = new SessionStage.Store
    val (dir, name) = (key(), "spec_race_" + System.nanoTime())
    val staged = (1 to 20).map(i => store.dir(spark, dir, s"$name$i") { p =>
      (1 to 200).foreach(j => Files.writeString(p.resolve(s"f$j"), "x"))
    })
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq(() => store.releaseAll(), () => store.release(spark.sparkContext)).map { f =>
      new Thread(() => { start.await(); try f() catch { case e: Throwable => errors.add(e) } })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors)
    assert(!staged.exists(Files.exists(_)))
  }

  test("release deletes the context's dirs and drops its entries") {
    val store = new SessionStage.Store
    val dir = key()
    val name = "spec_release_" + System.nanoTime()
    val p1 = store.dir(spark, dir, name)(p => Files.writeString(p.resolve("part"), "x"))
    assert(store.value(spark, dir, "v")(1) == 1)
    assert(Files.exists(p1))
    store.release(spark.sparkContext)
    assert(!Files.exists(p1))
    assert(onDisk(name).isEmpty)
    assert(store.value(spark, dir, "v")(2) == 2)
    val p2 = store.dir(spark, dir, name)(_ => ())
    assert(p2 != p1 && Files.isDirectory(p2))
    store.releaseAll()
    assert(!Files.exists(p2))
  }
}
