package graft

import org.apache.spark.sql.functions._
import graft.model.CacheDirs

/** Contract of the fingerprint-validated cross-session parquet cache: a
  * valid cached copy is read back without rebuilding; a source-data change
  * (same path, new bytes) invalidates it, since a stale hit would serve
  * wrong rows; concurrent callers and a killed holder's lock never cost a
  * second build or a hang. The roots are per user and per dataset dir.
  */
class CacheDirsSpec extends SparkSpec {
  import spark.implicits._

  private def mkSourceDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_cds_src").toFile
    d.deleteOnExit()
    d
  }

  private def writeSource(dir: java.io.File, content: String): Unit = {
    val f = new java.io.File(dir, "data.parquet")
    java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
    // force a visible mtime step even on coarse-granularity filesystems
    f.setLastModified(((System.currentTimeMillis() / 1000) + content.length) * 1000)
    ()
  }

  test("cache hit: second read serves the cached copy without rebuilding") {
    val src = mkSourceDir()
    writeSource(src, "v1")
    var builds = 0
    def build() = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    val first = CacheDirs.cachedParquet(spark, "spec", src.toString, "t")(build())
    assert(first.count() == 2 && builds == 1)
    val second = CacheDirs.cachedParquet(spark, "spec", src.toString, "t")(build())
    assert(second.count() == 2 && builds == 1) // no rebuild
  }

  test("source change at the same path invalidates and rebuilds") {
    val src = mkSourceDir()
    writeSource(src, "v1")
    var builds = 0
    def build(rows: Seq[(Long, String)]) = {
      builds += 1; rows.toDF("id", "v")
    }
    assert(CacheDirs.cachedParquet(spark, "spec", src.toString, "u")(
      build(Seq((1L, "a")))).count() == 1)
    writeSource(src, "v2-regenerated") // driver regenerated the dataset
    val got = CacheDirs.cachedParquet(spark, "spec", src.toString, "u")(
      build(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    assert(builds == 2)
    assert(got.count() == 3) // serves the REBUILT copy, not the stale one
  }

  test("missing parquet commit marker (torn write) forces a rebuild") {
    val src = mkSourceDir()
    writeSource(src, "v1")
    var builds = 0
    def build() = { builds += 1; Seq((1L, "a")).toDF("id", "v") }
    CacheDirs.cachedParquet(spark, "spec", src.toString, "w")(build()).count()
    val success = java.nio.file.Paths.get(
      CacheDirs.root("spec", src.toString), "w", "_SUCCESS")
    java.nio.file.Files.delete(success) // simulate a torn write
    CacheDirs.cachedParquet(spark, "spec", src.toString, "w")(build()).count()
    assert(builds == 2)
  }

  test("concurrent same-entry callers serialize on the lock: one build, no torn read") {
    val src = mkSourceDir()
    writeSource(src, "v1")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build() = {
      builds.incrementAndGet()
      Thread.sleep(500) // hold the build window open so the race is real
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val tasks = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            CacheDirs.cachedParquet(spark, "spec", src.toString, "race")(
              build()).count()
        })
      }
      // both callers read the COMPLETE committed copy (a torn read would
      // throw or count short), and the loser waited instead of rebuilding
      assert(tasks.map(_.get()) == Seq(3L, 3L))
      assert(builds.get() == 1, s"expected one build, got ${builds.get()}")
    } finally pool.shutdown()
  }

  test("stale lock from a dead owner is taken over, not waited on forever") {
    val src = mkSourceDir()
    writeSource(src, "v1")
    val lock = java.nio.file.Paths.get(
      CacheDirs.root("spec", src.toString), "dead.lock")
    java.nio.file.Files.createFile(lock)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val got = CacheDirs.cachedParquet(spark, "spec", src.toString, "dead")(
      Seq((1L, "a")).toDF("id", "v"))
    assert(got.count() == 1)
  }

  test("stale-lock takeover is atomic: many waiters on one dead lock → exactly one build") {
    // a lock file left by a dead owner must admit exactly one of the
    // waiters into the overwrite-in-place write; the rest read its copy
    val src = mkSourceDir()
    writeSource(src, "v1")
    val lock = java.nio.file.Paths.get(
      CacheDirs.root("spec", src.toString), "swarm.lock")
    java.nio.file.Files.createFile(lock)
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val inBuild = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    def build() = {
      builds.incrementAndGet()
      if (inBuild.incrementAndGet() > 1) overlapped.set(true)
      Thread.sleep(400) // hold the window open so a second admit would show
      inBuild.decrementAndGet()
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            CacheDirs.cachedParquet(spark, "spec", src.toString, "swarm")(
              build()).count()
        })
      }
      assert(tasks.map(_.get()).forall(_ == 2L))
      assert(builds.get() == 1, s"expected one post-takeover build, got ${builds.get()}")
      assert(!overlapped.get(), "two builders ran the overwrite concurrently")
    } finally pool.shutdown()
  }

  test("a killed build holder's lock frees itself: the next caller builds within 60 s") {
    import java.nio.file.{Files, Paths}
    val src = mkSourceDir()
    writeSource(src, "v1")
    val entered = Files.createTempDirectory("graft_cds_kill").resolve("entered")
    val holder = new ProcessBuilder(
      Paths.get(System.getProperty("java.home"), "bin", "java").toString, "-Xmx64m",
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
      "-cp", System.getProperty("java.class.path"),
      "graft.CacheLockHolder", src.toString, "killed", entered.toString)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    try {
      val deadline = System.nanoTime() + 60000000000L
      while (!Files.exists(entered) && holder.isAlive && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(Files.exists(entered), "the child JVM never entered the build")
    } finally holder.destroyForcibly().waitFor()
    // a daemon thread: if the lock outlived its holder the call blocks,
    // and the wait below fails the test instead of hanging the suite
    val call = scala.concurrent.Future(
      CacheDirs.cachedParquet(spark, "spec", src.toString, "killed")(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")).count()
    )(scala.concurrent.ExecutionContext.global)
    assert(scala.concurrent.Await.result(call,
      scala.concurrent.duration.Duration(60, "s")) == 2L)
  }

  test("distinct dataset dirs map to distinct cache roots") {
    assert(CacheDirs.root("probe", "/data/sf0.001") != CacheDirs.root("probe", "/data/sf0.01"))
  }

  test("dir tag is 64-bit hex, stable under path normalization") {
    assert(CacheDirs.dirTag("/data/sf0.01") === CacheDirs.dirTag("/data/./sf0.01"))
    assert(CacheDirs.dirTag("/a").matches("[0-9a-f]{16}"))
    // the old 32-bit String.hashCode tag no longer appears in the path
    val root = CacheDirs.root("probe", "/data/sf0.001")
    assert(!root.endsWith(("/data/sf0.001".hashCode.toLong & 0xffffffffL).toString))
  }

  test("cache root is scoped by user.name and writable") {
    val root = CacheDirs.root("probe", "/data/sf0.001")
    val user = Option(System.getProperty("user.name")).getOrElse("nouser")
      .replaceAll("[^A-Za-z0-9_.-]", "_")
    assert(root.contains(s"graft_cache_$user"))
    assert(new java.io.File(root).canWrite)
  }
}

/** Child-JVM side of the killed-holder test: enters `cachedParquet`'s build
  * for entry `args(1)` of dataset dir `args(0)`, touches `args(2)` and
  * sleeps inside the build until it is killed. No Spark session is needed
  * before the build returns.
  */
object CacheLockHolder {
  def main(args: Array[String]): Unit = {
    CacheDirs.cachedParquet(null, "spec", args(0), args(1)) {
      java.nio.file.Files.createFile(java.nio.file.Paths.get(args(2)))
      Thread.sleep(600000L)
      null
    }
    ()
  }
}
