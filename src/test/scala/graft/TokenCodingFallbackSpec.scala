package graft

import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The coded dedup verify's injectivity premise WILL eventually fail at
  * real vocabulary scale (a 64-bit collision is expected once per ~2³²
  * distinct tokens — certain on a 100 TB corpus), so recovery must be
  * mechanical code, not advice in an error message (round-14 verdict #2).
  * This spec forces a synthetic collision via the test-only
  * `graft.dedup.collideSeeds` conf (degrades the named seeds to 7
  * buckets — guaranteed collisions by pigeonhole on this test corpus's
  * 31 distinct tokens at sf0.001) and
  * proves both tiers emit pair-for-pair identical results:
  *   tier 1 — first seed collides ⇒ retry resolves the NEXT seed;
  *   tier 2 — every seed collides ⇒ `th` ships the sorted token strings
  *            and the same verify plan merges strings.
  * dedup_containment's per-document sets go through the same coding
  * helper (`LlmOps.sortedTokenCodes`), so it is held to the same tiers.
  */
class TokenCodingFallbackSpec extends AnyFunSuite {
  import TestSpark._

  private val CONF = "graft.dedup.collideSeeds"

  /** Canonical pair listing: every column, sorted, stringified. */
  private def pairs(): Seq[String] =
    q("dedup_allpairs_exact").collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq

  private def thType() =
    ops.LlmOps.tokenSetGroups(spark, sf).schema("th").dataType

  private def withConf[A](v: Option[String])(body: => A): A = {
    v.fold(spark.conf.unset(CONF))(spark.conf.set(CONF, _))
    // drop production-coded caches AND the set-pair memo first, so the
    // fault conf actually governs the rebuild (the memo is keyed by
    // (session, dir) — a production-built entry would otherwise be
    // served verbatim and the fallback path never exercised)
    Memo.release(spark)
    try body
    finally {
      spark.conf.unset(CONF)
      // and again on exit so later specs rebuild with production coding
      Memo.release(spark)
    }
  }

  test("tier 0 baseline: the production seed is injective on this corpus") {
    assert(ops.LlmOps.injectiveCodeSeed(spark, sf)
      .contains(ops.LlmOps.codeSeeds.head))
    assert(thType().asInstanceOf[ArrayType].elementType == LongType)
  }

  test("tier 1: a collision at the first seed retries to the second, pairs identical") {
    val baseline = pairs()
    assert(baseline.nonEmpty, "probe corpus must have >=0.9 pairs")
    withConf(Some(ops.LlmOps.codeSeeds.head.toString)) {
      assert(ops.LlmOps.injectiveCodeSeed(spark, sf)
        .contains(ops.LlmOps.codeSeeds(1)),
        "a first-seed collision must resolve the NEXT seed, not abort")
      assert(thType().asInstanceOf[ArrayType].elementType == LongType,
        "tier 1 must still ship coded arrays")
      assert(pairs() == baseline,
        "seed-retry tier changed the emitted pair relation")
    }
  }

  test("tier 2: every seed colliding falls back to string verify, pairs identical") {
    val baseline = pairs()
    withConf(Some(ops.LlmOps.codeSeeds.mkString(","))) {
      assert(ops.LlmOps.injectiveCodeSeed(spark, sf).isEmpty,
        "all seeds colliding must resolve None (string tier)")
      assert(thType().asInstanceOf[ArrayType].elementType == StringType,
        "tier 2 must ship the sorted token strings as th")
      assert(pairs() == baseline,
        "string-verify tier changed the emitted pair relation")
    }
  }

  test("tier 2 covers the MEMOIZED dedup family: minhash_full string-verifies identically") {
    // The banded family (dedup_minhash_full / canonical / cc_labelprop /
    // incremental) flows through buildSetPairs → the same th column —
    // prove the string tier through the memo too, not just the
    // unmemoized allpairs path.
    def rows(): Seq[String] =
      q("dedup_minhash_full").collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val baseline = rows()
    withConf(Some(ops.LlmOps.codeSeeds.mkString(","))) {
      assert(ops.LlmOps.injectiveCodeSeed(spark, sf).isEmpty)
      assert(rows() == baseline,
        "memoized banded dedup changed under the string-verify tier")
    }
  }

  test("dedup_containment merges the tier's coding, rows identical at every tier") {
    def rows(): Seq[String] =
      q("dedup_containment").collect().map(_.toSeq.mkString("|")).toSeq
    def plan(): String =
      q("dedup_containment").queryExecution.optimizedPlan.toString
    def codedAt(seed: Int): Boolean = plan().contains(s"xxhash64($seed,")
    val baseline = rows()
    assert(baseline.nonEmpty, "probe corpus must have containment rows")
    assert(codedAt(ops.LlmOps.codeSeeds.head),
      "tier 0 containment must merge codes at the production seed")
    withConf(Some(ops.LlmOps.codeSeeds.head.toString)) {
      assert(codedAt(ops.LlmOps.codeSeeds(1)),
        "tier 1 containment must merge codes at the retried seed")
      assert(rows() == baseline, "seed-retry tier changed dedup_containment")
    }
    withConf(Some(ops.LlmOps.codeSeeds.mkString(","))) {
      assert(!plan().contains("xxhash64("),
        "tier 2 containment must merge the sorted token strings")
      assert(rows() == baseline, "string tier changed dedup_containment")
    }
  }

  test("the seed memo is corpus-keyed: no session identity, no stopped-session retention") {
    ops.LlmOps.injectiveCodeSeed(spark, sf)
    val seedEntries = Memo.keys.filter(_._2.endsWith("|codeSeed"))
    assert(seedEntries.forall(_._1.isInstanceOf[org.apache.spark.SparkContext]),
      s"the seed memo must be context-scoped, got: $seedEntries")
    val keys = seedEntries.map(_._2)
    assert(keys.exists(_.startsWith(sf)), s"expected a $sf-keyed entry: $keys")
    // the key is (dir, fault-conf) only — nothing session-identity-shaped
    assert(keys.forall(k => k.startsWith("/") && !k.matches("^\\d+\\|.*")),
      s"memo keys must be corpus-determined, got: $keys")
  }
}
