package graft

import graft.sources.{BuildLog, DerivedCache}
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** DerivedCache owns the stored-artifact format: build-once layouts,
  * their validity (done-file + schema stamp), LRU eviction, typed table
  * reads and persisted, memoized values.
  */
class DerivedCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Run `body` against a fresh layout base and a fresh source dir. */
  private def withCache(body: Path => Unit): Unit = {
    val base = Files.createTempDirectory("graft-dc-base")
    val src  = Files.createTempDirectory("graft-dc-src")
    Files.write(src.resolve("x"), "src".getBytes)
    val oldTmp = sys.props("java.io.tmpdir")
    try {
      sys.props("java.io.tmpdir") = base.toString
      body(src)
    } finally sys.props("java.io.tmpdir") = oldTmp
  }

  private def layoutsNamed(name: String): Seq[java.io.File] =
    new java.io.File(sys.props("java.io.tmpdir")).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(s"graft-$name-"))

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("DerivedCache evicts least-recently-used layouts past the size cap") {
    import graft.sources.DerivedCache
    val base = java.nio.file.Files.createTempDirectory("graft-evict-test")
    val srcA = java.nio.file.Files.createTempDirectory("graft-evict-src")
    java.nio.file.Files.write(srcA.resolve("x"), "src".getBytes)
    val oldTmp = sys.props("java.io.tmpdir")
    try {
      sys.props("java.io.tmpdir") = base.toString
      sys.props("graft.derivedCache.minAgeMs") = "0"
      sys.props("graft.derivedCache.capBytes") = "3500" // ~fits 3 of 5 layouts
      def mk(i: Int): String = {
        val d = DerivedCache.dir(srcA.toString, "evict", s"layout=$i") { out =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, "data"), Array.fill(1000)('x'.toByte))
          ()
        }
        Thread.sleep(5) // distinct LRU mtimes on coarse filesystems
        d
      }
      val dirs = (1 to 5).map(mk)
      // cap 3500 vs ~1030 B/layout: building 4 and 5 must have evicted
      // the least-recently-used (1 and 2); the newest and the just-kept
      // survive, and the one being returned is never deleted
      assert(!new java.io.File(dirs(0)).exists(), "LRU layout 1 not evicted")
      assert(!new java.io.File(dirs(1)).exists(), "LRU layout 2 not evicted")
      assert(new java.io.File(dirs(4), "data").exists(), "newest layout lost")
      // a USE refreshes the stamp: re-request layout 3 (no rebuild —
      // content intact), then build a 6th; layout 3 must outlive 4
      val d3 = mk(3)
      assert(new java.io.File(d3, "data").exists())
      mk(6)
      assert(new java.io.File(d3, "data").exists(), "recently used layout evicted")
      assert(!new java.io.File(dirs(3)).exists(), "stale layout 4 should go before used 3")
      // a min-age window protects layouts a concurrent reader just used
      sys.props("graft.derivedCache.minAgeMs") = "600000"
      mk(7)
      assert(new java.io.File(d3, "data").exists(), "min-age window ignored")
    } finally {
      sys.props("java.io.tmpdir") = oldTmp
      sys.props.remove("graft.derivedCache.minAgeMs")
      sys.props.remove("graft.derivedCache.capBytes")
      ()
    }
  }

  test("a stored-table read builds its plan with zero Spark jobs, including on an empty build") {
    withCache { src =>
      import org.apache.spark.sql.functions.col
      val stored = DerivedCache.tables(src.toString, "dc-plan", "v=1") { b =>
        b.table("full", spark.range(6).select(col("id"), (col("id") % 2).as("p")), "p")
        b.table("empty", spark.range(6).filter(col("id") < 0).select(col("id")))
      }
      // a second open serves the built layout: same stamped schemas
      val again = DerivedCache.tables(src.toString, "dc-plan", "v=1")(_ => fail("rebuilt"))
      assert(again.schemas === stored.schemas)
      val n = jobsDuring {
        Seq("full", "empty").foreach { t =>
          val df = again.read(spark, t)
          df.groupBy("id").count()
            .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
            .queryExecution.executedPlan.toString
        }
      }
      assert(n === 0, "planning a stored-table read must fire no Spark job")
      assert(again.read(spark, "full").columns.toSeq === Seq("id", "p"))
      assert(again.read(spark, "full").count() === 6)
      assert(again.read(spark, "empty").count() === 0)
    }
  }

  test("a missing schema stamp forces a rebuild") {
    withCache { src =>
      BuildLog.drain()
      def open() = DerivedCache.tables(src.toString, "dc-stamp", "v=1") {
        _.table("t", spark.range(3).toDF("id"))
      }
      open()
      open()
      assert(BuildLog.drain().map(_.name) === Seq("dc-stamp"), "second open must reuse")
      val Seq(layout) = layoutsNamed("dc-stamp")
      Files.delete(layout.toPath.resolve("_GRAFT_STAMP"))
      val rebuilt = open()
      assert(BuildLog.drain().map(_.name) === Seq("dc-stamp"), "stamp-less layout reused")
      assert(rebuilt.read(spark, "t").count() === 3)
    }
  }

  test("value round-trip is bit-exact for NaN, -0.0 and subnormal doubles") {
    withCache { src =>
      val xs = Seq(Double.NaN, -0.0, java.lang.Double.MIN_VALUE, 2.2250738585072E-308, 0.1)
      val v1 = DerivedCache.value(src.toString, "dc-bits", "v=1")(xs)
      DerivedCache.resetMemo() // the next read comes from disk
      val v2 = DerivedCache.value(src.toString, "dc-bits", "v=1")(
        fail("a stored value was recomputed"): Seq[Double])
      def bits(s: Seq[Double]) = s.map(java.lang.Double.doubleToRawLongBits)
      assert(bits(v1) === bits(xs))
      assert(bits(v2) === bits(xs))
    }
  }

  test("a corrupted value file is recomputed") {
    withCache { src =>
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      def get() = DerivedCache.value(src.toString, "dc-torn", "v=1") {
        calls.incrementAndGet(); 42L
      }
      assert(get() === 42L)
      val Seq(layout) = layoutsNamed("dc-torn")
      val stamp = layout.toPath.resolve("_GRAFT_STAMP")
      val bytes = Files.readAllBytes(stamp)
      Files.write(stamp, bytes.take(bytes.length / 2)) // torn write
      DerivedCache.resetMemo()
      assert(get() === 42L)
      assert(calls.get() === 2, "a torn value must be recomputed")
      DerivedCache.resetMemo()
      assert(get() === 42L)
      assert(calls.get() === 2, "the recomputed value must be stored again")
    }
  }

  test("a value memo recomputes after its source is regenerated in the same JVM") {
    withCache { src =>
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      def get() = DerivedCache.value(src.toString, "dc-regen", "v=1") {
        calls.incrementAndGet()
        new String(Files.readAllBytes(src.resolve("x")))
      }
      assert(get() === "src")
      assert(get() === "src")
      assert(calls.get() === 1, "a memo hit must not recompute")
      Files.write(src.resolve("x"), "regenerated".getBytes)
      assert(get() === "regenerated")
      assert(calls.get() === 2)
    }
  }
}
