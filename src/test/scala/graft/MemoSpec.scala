package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `Memo`, the engine's one driver-side memo: single-flight misses, no
  * entry left by a failed build, session scope kept apart per session,
  * and a cached relation rebuilt once its cache entry is released.
  */
class MemoSpec extends AnyFunSuite {
  import TestSpark._

  private def key(tag: String): String =
    s"memospec|$tag|${java.util.UUID.randomUUID()}"

  test("a cold key hit by 8 threads at once is built exactly once") {
    val k = key("singleflight")
    val builds = new AtomicInteger(0)
    val n = 8
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val got = try {
      val fs = (1 to n).map { _ =>
        pool.submit(new Callable[String] {
          override def call(): String = {
            start.await()
            Memo.context(spark, k) {
              builds.incrementAndGet()
              Thread.sleep(200)
              new String("built")
            }
          }
        })
      }
      start.countDown()
      fs.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(builds.get == 1, s"$n concurrent misses ran ${builds.get} builds")
    assert(got.forall(_ eq got.head), "every caller must get the one built value")
  }

  test("a build that throws leaves no entry, and the next call builds") {
    val k = key("throws")
    val builds = new AtomicInteger(0)
    intercept[IllegalStateException] {
      Memo.context[String](spark, k) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(!Memo.keys.exists(_._2 == k), "a failed build left an entry")
    assert(Memo.context(spark, k) { builds.incrementAndGet(); "ok" } == "ok")
    assert(builds.get == 2)
    assert(Memo.context(spark, k) { builds.incrementAndGet(); "again" } == "ok")
    assert(builds.get == 2, "a built entry must be served, not rebuilt")
  }

  test("session-scoped entries of two sessions stay distinct") {
    val k = key("session")
    val (a, b) = (spark.newSession(), spark.newSession())
    assert(Memo.session(a, k)("a") == "a")
    assert(Memo.session(b, k)("b") == "b")
    assert(Memo.session(a, k)("rebuilt") == "a")
    assert(Memo.session(b, k)("rebuilt") == "b")
    // context scope is one entry for both sessions
    val c = key("context")
    assert(Memo.context(a, c)("a") == "a")
    assert(Memo.context(b, c)("b") == "a")
  }

  test("a cached relation at StorageLevel.NONE is rebuilt and re-rooted") {
    val k = key("cached")
    val builds = new AtomicInteger(0)
    def get(s: org.apache.spark.sql.SparkSession) = Memo.cached(s, k) {
      builds.incrementAndGet()
      s.range(10).toDF("id").where("id % 2 = 0").persist()
    }
    val h = get(spark)
    assert(h.storageLevel != StorageLevel.NONE)
    val other = spark.newSession()
    val rerooted = get(other)
    assert(rerooted.sparkSession eq other, "a hit must be re-rooted into the caller's session")
    assert(get(spark) eq h, "the owning session gets the handle itself")
    assert(builds.get == 1)
    h.unpersist(blocking = true)
    val rebuilt = get(other)
    assert(builds.get == 2, "a released relation must be rebuilt")
    assert(rebuilt.storageLevel != StorageLevel.NONE)
    assert(rebuilt.collect().map(_.getLong(0)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    rebuilt.unpersist(blocking = true)
  }
}
