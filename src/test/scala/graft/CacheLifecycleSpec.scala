package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 verdict #2: the dedup family pins cached intermediates
  * (tokenSetGroups, prefix candidates) and the verified set-pair memo,
  * and the eval family pins its Inference stages, in the SparkContext's
  * shared CacheManager: one context-scoped `Memo` entry per key for every
  * session of the context. `Memo.release(s)` is the eviction seam: it
  * releases every cached entry of `s.sparkContext`, whichever session
  * built it. This spec proves (a) eviction actually releases the pinned
  * storage, (b) sweeping a SECOND sfDir then evicting leaves nothing
  * behind, so a long-lived multi-tenant application does not accumulate
  * pinned storage per corpus, and (c) after any release — `Memo.release`,
  * or `catalog.clearCache()` from another session — the memos rebuild
  * instead of serving a released relation. Assertions are per-object
  * (storage levels, registry counts, jobs tagged to this thread), not
  * global block counts, so other suites sharing the context can't race
  * them.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  private def persistentRddCount(): Int =
    s.sparkContext.getPersistentRDDs.size

  private def canonical(session: org.apache.spark.sql.SparkSession): Seq[String] =
    SparkEntry.queries("dedup_canonical")(session, TestSpark.sf).collect()
      .map(_.toSeq.mkString("|")).toSeq

  test("Memo.release releases the context's dedup caches and set-pair memo") {
    // build the full memoized pipeline at sf0.001 in a fresh session; the
    // entries belong to the context, so evicting through another session
    // of it releases them
    assert(canonical(s.newSession()).nonEmpty)
    val pinnedAfterBuild = persistentRddCount()
    assert(pinnedAfterBuild > 0, "build should have pinned storage")

    val evicted = Memo.release(s)
    assert(evicted >= 2,
      s"expected at least groups cache + set-pair memo, evicted $evicted")
    // a second call finds nothing — the registries are actually drained
    assert(Memo.release(s) == 0)

    // the blocking unpersists must have released the blocks this module
    // pinned: strictly fewer persistent RDDs than right after the build
    assert(persistentRddCount() < pinnedAfterBuild,
      "eviction should release persistent RDD blocks")

    // queries rebuild transparently after eviction
    assert(TestSpark.q("dedup_canonical").count() > 0)
    Memo.release(s)
  }

  test("second sfDir sweep does not accumulate pinned storage after eviction") {
    assert(TestSpark.q("dedup_canonical").count() > 0)
    Memo.release(s)
    val baseline = persistentRddCount()

    // sweep a different corpus in the same session, then evict
    assert(SparkEntry.queries("dedup_canonical")(s, "/root/testdata/sf0.01")
      .count() > 0)
    assert(persistentRddCount() > baseline,
      "second corpus should pin fresh storage while in use")
    val evicted = Memo.release(s)
    assert(evicted >= 2)
    assert(persistentRddCount() <= baseline,
      "after eviction the second corpus must leave no pinned storage")
  }

  test("tracked cache storage level drops to NONE after eviction") {
    val groups = ops.LlmOps.tokenSetGroups(s, TestSpark.sf)
    groups.count()
    assert(groups.storageLevel != StorageLevel.NONE, "cache should be active")
    Memo.release(s)
    assert(groups.storageLevel == StorageLevel.NONE,
      "Memo.release must clear the CacheManager entry for the groups plan")
  }

  test("the set-pair memo rebuilds after Memo.release and still matches") {
    val before = canonical(s.newSession())
    assert(before.size == 500, "dedup_canonical must return the oracle's 500 rows")
    Memo.release(s)
    val builds0 = ops.LlmOps.memoBuilds
    assert(canonical(s.newSession()) == before)
    assert(ops.LlmOps.memoBuilds - builds0 == 1, "a released memo must rebuild once")
  }

  test("the set-pair memo rebuilds after clearCache from a different session") {
    val before = canonical(s.newSession())
    assert(before.size == 500, "dedup_canonical must return the oracle's 500 rows")
    val builds0 = ops.LlmOps.memoBuilds
    s.newSession().catalog.clearCache()
    assert(canonical(s.newSession()) == before)
    assert(ops.LlmOps.memoBuilds - builds0 == 1,
      "a memo whose cache entry was cleared must rebuild, not serve the bare relation")
    Memo.release(s)
  }

  test("Inference stages are persisted again after clearCache from another session") {
    // the eval family's warm job count holds only while `preds` is
    // cached: a stage whose cache entry another session cleared must be
    // persisted again, not served at StorageLevel.NONE and recomputed on
    // every read
    val session = s.newSession()
    def perClass(): Int = TestSpark.jobsRunBy(
      SparkEntry.queries("eval_per_class")(session, TestSpark.sf).count())
    perClass()
    val warm = perClass()
    s.newSession().catalog.clearCache()
    assert(ops.Inference.preds(session, TestSpark.sf).storageLevel != StorageLevel.NONE,
      "preds must be persisted again after clearCache")
    perClass()
    val after = perClass()
    assert(after == warm,
      s"eval_per_class runs $after jobs warm after clearCache, $warm before")
    Memo.release(s)
  }
}
