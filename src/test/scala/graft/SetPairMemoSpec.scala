package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The verified set-pair memo (`LlmOps.minhashSetPairs`) is shared state
  * of the SparkContext: built once per (sfDir, token coding) with a
  * single-flight fill, then reused by every session, fresh or not,
  * without running a job. Also pins that every user of
  * `sorted_intersect_count` registers it where it uses it, so a session
  * without GraftExtensions (how Bench and Verify build theirs) resolves
  * it whether or not the memo build ran in that session.
  */
class SetPairMemoSpec extends AnyFunSuite {
  import TestSpark._

  private val sc = spark.sparkContext

  /** DuckDB oracle row counts at sf0.001 (`tools/check.py` over a
    * `graft.Verify` dump of these queries). */
  private val oracleRows = Seq(
    "dedup_containment" -> 5769L, "dedup_allpairs_exact" -> 11025L,
    "dedup_minhash_full" -> 11025L, "dedup_canonical" -> 500L)

  private def rows(s: org.apache.spark.sql.SparkSession): Seq[String] =
    SparkEntry.queries("dedup_canonical")(s, sf).collect()
      .map(_.toSeq.mkString("|")).toSeq

  /** Cached set-pair relations in storage: the memo's cached plan is a
    * scan of the verify relation's RDD, which names its storage entry. */
  private def setPairEntries(): Int =
    sc.getRDDStorageInfo.count(_.name.contains("Scan ExistingRDD[sa#"))

  test("sorted_intersect_count users run in a session that lacks the function") {
    // TestSpark loads GraftExtensions, so dropping the function from a
    // fresh session's registry is how a non-extension session looks;
    // releasing the memo makes the banded family build in that session
    Memo.release(spark)
    val fresh = spark.newSession()
    val fn = FunctionIdentifier("sorted_intersect_count")
    fresh.sessionState.functionRegistry.dropFunction(fn)
    assert(!fresh.sessionState.functionRegistry.functionExists(fn))
    for ((q, n) <- oracleRows)
      assert(SparkEntry.queries(q)(fresh, sf).count() == n,
        s"$q in a session without the function did not return the oracle's $n rows")
    Memo.release(spark)
  }

  test("fresh sessions share one single-flight set-pair build") {
    Memo.release(spark)
    val builds0 = ops.LlmOps.memoBuilds
    val n = 4
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val results = try {
      val fs = (1 to n).map { _ =>
        val s = spark.newSession()
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = { start.await(); rows(s) }
        })
      }
      start.countDown()
      fs.map(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(ops.LlmOps.memoBuilds - builds0 == 1,
      s"$n concurrent fresh sessions ran ${ops.LlmOps.memoBuilds - builds0} memo builds")
    assert(results.distinct.size == 1, "concurrent sessions disagree")
    assert(results.head.size == 500)

    val later = spark.newSession()
    val pinned = sc.getPersistentRDDs.size
    assert(jobsRunBy(SparkEntry.queries("dedup_canonical")(later, sf)) == 0,
      "a later session's construction of dedup_canonical ran Spark jobs")
    assert(rows(later) == results.head)
    assert(ops.LlmOps.memoBuilds - builds0 == 1)
    // the later session's groups plan hit the shared cache entry too
    assert(sc.getPersistentRDDs.size == pinned,
      "a later session's run pinned storage of its own")
    assert(setPairEntries() == 1, s"storage holds ${setPairEntries()} set-pair entries")
  }

  test("a session with another token coding gets its own set-pair entry") {
    val baseline = rows(spark.newSession())
    val entries0 = setPairEntries()
    val builds0 = ops.LlmOps.memoBuilds
    val faulty = spark.newSession()
    faulty.conf.set("graft.dedup.collideSeeds", ops.LlmOps.codeSeeds.head.toString)
    assert(rows(faulty) == baseline)
    assert(ops.LlmOps.memoBuilds - builds0 == 1)
    assert(setPairEntries() == entries0 + 1)
    // and the default coding's entry still serves without a build
    assert(rows(spark.newSession()) == baseline)
    assert(ops.LlmOps.memoBuilds - builds0 == 1)
    Memo.release(spark)
  }

  test("a cold construction runs the build's jobs (the job probe sees them)") {
    Memo.release(spark)
    assert(jobsRunBy(SparkEntry.queries("dedup_canonical")(spark.newSession(), sf)) > 0)
  }
}
