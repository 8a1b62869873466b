package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 verdict #1: the derived-scale stress proof for the dedup
  * family — the one 100 TB claim that was argued in scaladoc but never
  * measured. This spec MEASURES the growth curve of the corpus-scale
  * dedup machinery (tokenSetGroups → banded-minhash candidates → exact
  * set-pair verify) on derived fixtures at 1×, 3×, and 10× the sf0.01
  * documents corpus, and asserts the counts that decide 100 TB viability
  * grow LINEARLY in corpus size, not quadratically.
  *
  * Fixture construction (same derived-fixture pattern as the bucketed
  * tables in SinksAndBucketingSpec and the hive layout in Rel.scala):
  * replica k prefixes every token with "s{k}x". Token-prefixing is a
  * Jaccard ISOMETRY within a replica — j(T_k(a), T_k(b)) = j(a, b) — and
  * makes replicas pairwise token-DISJOINT, so the true ≥0.9 pair relation
  * of the N× fixture is exactly N copies of the base relation. That gives
  * exact expected values, not just bounds: verified pairs MUST grow by
  * exactly N×, and candidate pairs must stay near N× (banded buckets
  * don't mix across disjoint token spaces except by 64-bit xxhash
  * coincidence). A quadratic candidate generator — e.g. the naive
  * all-pairs join the scaladoc argues against — would show ~N²×.
  *
  * NOT a regeneration of driver testdata: the fixture lives in a temp
  * dir, is derived deterministically from the driver's own parquet, and
  * is deleted with the JVM.
  */
class ScaleSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val base = "/root/testdata/sf0.01"

  /** Build an N× documents fixture under a temp dir; returns its sfDir. */
  private def fixture(factor: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_scale_${factor}x_")
    dir.toFile.deleteOnExit()
    val docs = Tables.t(s, base, "documents")
    val replicas: Seq[DataFrame] = (0 until factor).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(lit(s"s${k}x"), t)), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicas.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir.toString
  }

  /** (n_docs, n_sets, n_candidates, n_verified, build_s, n_prefix) at
    * one scale. n_prefix = the EXACT AllPairs/PPJoin candidate count
    * (round 14): token-prefixed replicas are string-disjoint, so the
    * prefix join admits ZERO cross-replica pairs, and each replica's
    * per-set (df, token) rank order equals the base corpus's (df values
    * replicate; the string tiebreak preserves within-replica order) —
    * the prefix selection is identical per replica, so the candidate
    * relation of the N× fixture is exactly N disjoint copies.
    */
  private def probe(sfDir: String): (Long, Long, Long, Long, Double, Long) = {
    graft.functions.SortedIntersectCountExpr.register(s)
    val t0 = System.nanoTime()
    val groups = ops.LlmOps.tokenSetGroups(s, sfDir)
    val nSets = groups.count()
    val nPrefix = ops.LlmOps.prefixCandidates(groups).count()
    val nCand = ops.LlmOps.minhashBandCandidates(groups).count()
    // memoized verified relation = the ≥0.9 set-pair survivors
    val nVerified = ops.LlmOps.minhashSetPairs(s, sfDir).count()
    val secs = (System.nanoTime() - t0) / 1e9
    val nDocs = Tables.t(s, sfDir, "documents").count()
    (nDocs, nSets, nCand, nVerified, secs, nPrefix)
  }

  test("dedup candidate/verify counts grow linearly, not quadratically, to 10x") {
    val rungs = Seq(1, 3, 10).map { f =>
      val dir = if (f == 1) base else fixture(f)
      val r = probe(dir)
      info(f"scale ${f}%2dx: docs=${r._1}%6d sets=${r._2}%6d " +
        f"candidates=${r._3}%8d verified=${r._4}%7d build=${r._5}%6.2fs " +
        f"prefix_cand=${r._6}%8d")
      (f, r)
    }
    val (_, (d1, s1, c1, v1, _, p1)) = rungs.head
    for ((f, (dN, sN, cN, vN, _, pN)) <- rungs.tail) {
      // AllPairs/PPJoin prefix path (the dedup_allpairs_exact flagship):
      // string-disjoint replicas + preserved per-set ranks make the
      // candidate count EXACTLY linear — no slack needed
      assert(pN == f * p1,
        s"${f}x: prefix-filter candidates must replicate exactly " +
          s"(${f.toLong * p1}), got $pN — the AllPairs path is not " +
          "scaling linearly")
      assert(dN == f * d1, s"fixture at ${f}x should hold ${f * d1} docs")
      // token-prefixing is a Jaccard isometry with disjoint replicas:
      // sets and verified pairs replicate EXACTLY
      assert(sN == f * s1,
        s"${f}x: expected exactly ${f}x sets (${f * s1}), got $sN")
      assert(vN == f * v1,
        s"${f}x: expected exactly ${f}x verified pairs (${f * v1}), got $vN")
      // candidates: linear ≈ f×; quadratic would be ≈ f²×. Allow 2× slack
      // for cross-replica 64-bit hash coincidences and per-replica band
      // variance — still far below the quadratic signature.
      assert(cN <= 2L * f * c1,
        s"${f}x: candidate pairs grew ${cN.toDouble / c1}x — " +
          s"super-linear, the banded generator is not scaling (linear " +
          s"would be ~${f}x, quadratic ~${f * f}x)")
    }
    // release the fixture corpora's pinned storage
    Memo.release(s)
  }

  test("dedup candidates stay linear and the band bucket stays bounded at 100x") {
    // Round-12 verdict #5: the 10× rung is measured-linear; the 100 TB
    // claim extrapolates two more decades. This measures ONE more decade
    // — a 100× fixture (50k docs, i.e. 10× the sf0.1 corpus) through the
    // candidate + verify stages — and the quantity that decides the
    // bucket self-join's worst TASK: the max (band, h) bucket width.
    // Token-disjoint replicas keep bucket membership content-keyed, so
    // growing the corpus 100× must add BUCKETS, not bucket width; a
    // cross-replica 64-bit hash coincidence can merge two buckets, which
    // the 2× slack absorbs. Quadratic candidate growth would read
    // ~10,000×; linear reads ~100×.
    graft.functions.SortedIntersectCountExpr.register(s)
    def maxBucket(groups: DataFrame): Long =
      ops.LlmOps.minhashBands(groups)
        .groupBy("band", "h").count()
        .agg(max("count")).head().getLong(0)
    val g1 = ops.LlmOps.tokenSetGroups(s, base)
    val (s1, c1, v1, b1) = (g1.count(),
      ops.LlmOps.minhashBandCandidates(g1).count(),
      ops.LlmOps.minhashSetPairs(s, base).count(), maxBucket(g1))
    val dir100 = fixture(100)
    val t0 = System.nanoTime()
    val g100 = ops.LlmOps.tokenSetGroups(s, dir100)
    val (s100, c100, v100, b100) = (g100.count(),
      ops.LlmOps.minhashBandCandidates(g100).count(),
      ops.LlmOps.minhashSetPairs(s, dir100).count(), maxBucket(g100))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"scale 100x: sets=$s100%7d candidates=$c100%9d " +
      f"(${c100.toDouble / c1}%.2fx) verified=$v100%8d " +
      f"max_bucket=$b100 (1x max_bucket=$b1) build=$secs%.1fs")
    assert(s100 == 100 * s1, s"expected exactly ${100 * s1} sets, got $s100")
    assert(v100 == 100 * v1,
      s"expected exactly ${100 * v1} verified pairs, got $v100")
    assert(c100 <= 2L * 100 * c1,
      s"candidates grew ${c100.toDouble / c1}x at 100x — super-linear")
    assert(b100 <= 2L * b1,
      s"max band bucket grew $b1 → $b100 at 100x — bucket width must be " +
        "content-keyed (clique-bounded), not corpus-proportional")
    // AllPairs/PPJoin prefix path at 100× (round 14): the exactness
    // argument from the 1×/3×/10× rung holds at any factor — assert it
    // one more decade out, bit-exact, no slack.
    val tp = System.nanoTime()
    val p1 = ops.LlmOps.prefixCandidates(g1).count()
    val p100 = ops.LlmOps.prefixCandidates(g100).count()
    info(f"prefix 100x: candidates=$p100%9d (exact ${p100 / p1}x of $p1) " +
      f"in ${(System.nanoTime() - tp) / 1e9}%.1fs")
    assert(p100 == 100 * p1,
      s"prefix candidates must replicate exactly (${100 * p1}), got $p100")
    // Labelprop at 100x (round-14 verdict #4): the fixture + memoized
    // pairs are already built above, so the loop rung rides for its own
    // cost. Disjoint replicas keep the diameter: rounds must match 1x
    // while the loop chews 100x the edges — the regime where per-round
    // DATA cost starts to take over from the scheduler floor (the
    // parallelism heuristic itself stays contracted-graph-sized).
    val t1 = System.nanoTime()
    val (lab1, r1) = ops.LlmOps.labelPropLoop(
      ops.LlmOps.minhashSetPairs(s, base), g1.select(col("set_id")))
    lab1.count()
    val w1 = (System.nanoTime() - t1) / 1e9
    val t100 = System.nanoTime()
    val (lab100, r100) = ops.LlmOps.labelPropLoop(
      ops.LlmOps.minhashSetPairs(s, dir100), g100.select(col("set_id")))
    lab100.count()
    val w100 = (System.nanoTime() - t100) / 1e9
    info(f"labelprop 1x:   edges=$v1%7d rounds=$r1 wall=$w1%.2fs " +
      f"(${w1 / r1}%.3fs/round)")
    info(f"labelprop 100x: edges=$v100%7d rounds=$r100 wall=$w100%.2fs " +
      f"(${w100 / r100}%.3fs/round)")
    assert(r100 == r1,
      s"rounds are diameter-bound: 100x replicas must converge in $r1 " +
        s"rounds, got $r100")
    // 100x the edges must NOT cost 100x the per-round wall — the floor
    // amortizes first, then per-round data cost grows linearly at most.
    // Generous bound (25x + 2s) keeps host noise from flaking the gate.
    assert(w100 / r100 <= 25.0 * (w1 / r1) + 2.0,
      f"per-round wall grew ${w1 / r1}%.3f -> ${w100 / r100}%.3f s/round " +
        "at 100x edges — super-linear")
    Memo.release(s)
  }

  test("iterated checkpoints truncate STATS, not just lineage (round-14 bug guard)") {
    // The round-14 finding, pinned without timing: plain localCheckpoint
    // carries the origin plan's estimated sizeInBytes forward, so a
    // self-joined loop would multiply it into itself (bit length ×4 per
    // round — 37 → 10.4M bits by round 10 on a diameter-511 chain,
    // BigInteger.multiply became the dominant DRIVER cost). The
    // stats-truncating checkpoint must reset to the session default,
    // CONSTANT bits regardless of how inflated the origin estimate was.
    val seed0 = s.range(1024).select(col("id").as("sid"), col("id").as("lbl"))
    // build an origin whose estimate is a product of products — four
    // stacked self-joins multiply the estimate into itself repeatedly
    def selfJoin(df: org.apache.spark.sql.DataFrame) =
      df.join(df.select(col("sid").as("lbl"), col("lbl").as("x")), Seq("lbl"), "left")
        .select(col("sid"), coalesce(col("x"), col("lbl")).as("lbl"))
    val inflated = selfJoin(selfJoin(selfJoin(selfJoin(seed0))))
    val bitsInflated =
      inflated.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    val plainCkpt = inflated.localCheckpoint()
      .queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    val truncated = ops.LlmOps.ckptStatsTruncated(inflated)
    val bitsTruncated =
      truncated.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    info(s"origin estimate $bitsInflated bits (plain localCheckpoint " +
      s"keeps $plainCkpt) -> truncated $bitsTruncated bits")
    assert(bitsInflated > 64,
      s"fixture must produce an inflated estimate, got $bitsInflated bits")
    assert(bitsTruncated <= 64,
      s"truncated checkpoint must reset stats to the session default " +
        s"(<= 64 bits), got $bitsTruncated — the exponential-stats bug is back")
    // and the data must be byte-identical through the truncation
    assert(truncated.collect().map(_.toSeq).toSeq.sortBy(_.toString) ==
      inflated.collect().map(_.toSeq).toSeq.sortBy(_.toString))
  }

  test("labelprop rounds are diameter-bound and replica-invariant; per-round cost amortizes the scheduler floor") {
    // Round-14 verdict #4: labelprop/pagerank were the only load-bearing
    // loops with no measured scale curve. Two claims, measured:
    //  (a) ROUNDS are bound by component diameter, log-ish under pointer
    //      doubling — NOT by corpus size. On a path graph of diameter D
    //      the closed form is d_k = 2^(k+1)-2 reach per round (one
    //      neighbor hop then lbl(lbl(v))), so rounds ≈ log2(D) + 1
    //      convergence-detect round: D=127 ⇒ 8, D=2047 ⇒ 12.
    //  (b) replica scaling (token-disjoint 10× corpus = 10× edges, SAME
    //      diameter) leaves rounds FIXED while per-round wall grows far
    //      slower than the graph — the r13 floor analysis's flip side:
    //      at sf0.1-class sizes the per-exchange scheduler minimum, not
    //      data, binds each round, so 10× the edges does not cost 10×.
    def chain(v: Long): (Int, Double, Boolean) = {
      val ids = s.range(v).select(col("id").as("set_id"))
      val edges = s.range(v - 1)
        .select(col("id").as("sa"), (col("id") + lit(1L)).as("sb"))
      val t0 = System.nanoTime()
      val (labels, rounds) = ops.LlmOps.labelPropLoop(edges, ids)
      val wall = (System.nanoTime() - t0) / 1e9
      val converged = labels.agg(max("lbl")).head().getLong(0) == 0L &&
        labels.count() == v
      (rounds, wall, converged)
    }
    val (rShort, wShort, okShort) = chain(128)
    val (rLong, wLong, okLong) = chain(2048)
    info(f"chain D=127:  rounds=$rShort wall=$wShort%.2fs " +
      f"(${wShort / rShort}%.3fs/round)")
    info(f"chain D=2047: rounds=$rLong wall=$wLong%.2fs " +
      f"(${wLong / rLong}%.3fs/round)")
    assert(okShort && okLong, "chain components must converge to label 0")
    assert(rLong > rShort,
      s"rounds must grow with diameter ($rShort -> $rLong)")
    // 16x the diameter must cost ~log2(16)=4 extra rounds, not 16x —
    // the pointer-doubling claim, with slack for convergence detection
    assert(rLong <= rShort + 8,
      s"rounds grew $rShort -> $rLong on 16x diameter — doubling broken?")

    // (b) the real contracted graph at 1x and 10x (disjoint replicas:
    // identical component structure, 10x the edges)
    def corpus(dir: String): (Long, Int, Double) = {
      val pairs = ops.LlmOps.minhashSetPairs(s, dir)
      val nEdges = pairs.count()
      val ids = ops.LlmOps.tokenSetGroups(s, dir).select(col("set_id"))
      val t0 = System.nanoTime()
      val (labels, rounds) = ops.LlmOps.labelPropLoop(pairs, ids)
      labels.count()
      (nEdges, rounds, (System.nanoTime() - t0) / 1e9)
    }
    val (e1, r1, w1) = corpus(base)
    val dir10 = fixture(10)
    val (e10, r10, w10) = corpus(dir10)
    info(f"corpus 1x:  edges=$e1%6d rounds=$r1 wall=$w1%.2fs " +
      f"(${w1 / r1}%.3fs/round)")
    info(f"corpus 10x: edges=$e10%6d rounds=$r10 wall=$w10%.2fs " +
      f"(${w10 / r10}%.3fs/round)")
    assert(e10 == 10 * e1, s"disjoint replicas must give exactly 10x edges")
    assert(r10 == r1,
      s"rounds are diameter-bound: 10x replicas (same diameter) must " +
        s"converge in the same $r1 rounds, got $r10")
    // per-round wall must grow FAR slower than the 10x graph: the
    // scheduler floor amortizes. Generous bound (6x + 1s) so host noise
    // can't flake the gate; measured values go to info/SCALE.md.
    assert(w10 / r10 <= 6.0 * (w1 / r1) + 1.0,
      f"per-round wall grew ${w1 / r1}%.3f -> ${w10 / r10}%.3f s/round " +
        "on 10x edges — the floor-amortization claim failed")

    // pagerank — the other load-bearing loop (FIXED 10 rounds, so its
    // whole curve is per-round cost): same replica evidence, riding the
    // set-pair memos the corpus() probes above already built. min-of-2
    // so a JIT-cold first sample can't flake the bound.
    def prWall(dir: String): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries("graph_pagerank")(s, dir).count()
      assert(n == 20)
      (System.nanoTime() - t0) / 1e9
    }.min
    val (p1, p10) = (prWall(base), prWall(dir10))
    info(f"pagerank 1x: wall=$p1%.2fs (${p1 / 10}%.3fs/round)  " +
      f"10x: wall=$p10%.2fs (${p10 / 10}%.3fs/round)")
    assert(p10 <= 6.0 * p1 + 2.0,
      f"pagerank wall grew $p1%.2f -> $p10%.2f s on 10x edges — " +
        "super-linear; the per-exchange floor should amortize first")
    Memo.release(s)
  }

  test("quantilePicks driver collect stays O(NB·groups) flat to 10x data") {
    // Round-11 verdict #6: the r11-touched pick hot path had no measured
    // scale curve, unlike dedup. The 100 TB viability claim is that the
    // ONLY driver-side materialization is the per-(group, bucket)
    // partials collect — O(NB·|groups|), independent of input rows. This
    // measures it: a 10× row-replicated input (same values ⇒ same bucket
    // set, same weighted quantiles) must produce (a) identical picks and
    // (b) a partials collect of the SAME row count as the 1× input —
    // while the scanned rows grow 10×. A per-row driver leak (the
    // anti-pattern the machinery exists to avoid) would read ~10×.
    import s.implicits._
    import ops.ScalableCumulate
    val groups = 7
    val nb = 32
    def input(rep: Int): DataFrame = {
      // deterministic synthetic: 60k base rows, heavy value ties, weights
      // 1..5; `rep` concatenates value-identical copies (weighted
      // quantiles are invariant under uniform replication)
      val base = s.range(0, 60000).select(
        (col("id") % groups).cast("string").as("g"),
        ((col("id") * 2654435761L) % 100000).as("x"),
        (col("id") % 5 + 1).as("w"))
      (1 to rep).map(_ => base).reduce(_.unionByName(_))
    }
    s.conf.set("spark.graft.cumulate.buckets", nb.toString)
    def run(rep: Int): (Map[String, Long], Int, Long) = {
      val df = input(rep).persist() // cheapRescan: first job fills cache
      try {
        val picks = ScalableCumulate.quantilePicks(df, col("x"),
          Seq(col("x").asc, col("g").asc), col("w"),
          Seq((1L, 2L), (95L, 100L)), groupCols = Seq("g"))
          .select(col("g"), col("pick_0"), col("pick_1")).collect()
          .map(r => r.getString(0) -> (r.getLong(1) * 1000000 + r.getLong(2)))
          .toMap
        (picks, ScalableCumulate.lastPartialsRows, df.count())
      } finally { df.unpersist(); () }
    }
    try {
      val (p1, partials1, rows1) = run(1)
      val (p10, partials10, rows10) = run(10)
      info(s"1x: rows=$rows1 partials=$partials1; " +
        s"10x: rows=$rows10 partials=$partials10 (bound=${groups * (nb + 1)})")
      assert(rows10 == 10 * rows1)
      assert(p10 == p1, "replication-invariant picks must be identical")
      assert(partials1 > 0 && partials1 <= groups * (nb + 1),
        s"partials exceed the O(NB·|groups|) bound: $partials1")
      assert(partials10 == partials1,
        s"driver collect grew with data size ($partials1 → $partials10) — " +
          "the pick machinery is leaking per-row state to the driver")
    } finally s.conf.unset("spark.graft.cumulate.buckets")
  }
}
