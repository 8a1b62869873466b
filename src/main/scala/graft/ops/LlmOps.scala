package graft.ops

import graft.{Memo, Spec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2 category K — LLM-data-pipeline operators over `documents`
  * and `embeddings` (mandated beyond the reference's own surface).
  *
  * Scale design: every exact similarity/dedup query bounds its candidate
  * set by a FIXED predicate (probe windows like doc_id<200 / vec_id<5),
  * so work is constant in corpus size; the unbounded companions are the
  * LSH variants (`dedup_minhash_lsh`, `sim_lsh_approx` — MLlib, banded
  * hashing) which are the actual 100 TB path. Token explodes shuffle
  * (doc, token) pairs only; hash groups carry map-side partial counts.
  */
object LlmOps {
  import Tables._

  /** (doc_id, lang, token), the one Spark-side token stream; the DuckDB
    * side's shared CTE is (doc_id, pos, token). */
  private[ops] def toks(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("token"))
  private[ops] val toksSql =
    """toks AS (
         SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token FROM (
           SELECT doc_id,
             unnest(list_transform(string_split(text, ' '),
               (x, i) -> {'pos': i - 1, 'token': x})) AS u
           FROM documents))"""

  /** MinHash banding via MLlib on a bounded probe window. The LSH stage
    * only GENERATES candidates (at a loose feature-space threshold 0.5, so
    * the miss probability for a true ≥0.9-Jaccard pair is (1-0.9)^8 ≈ 1e-8
    * across the 8 OR'd hash tables); every candidate is re-verified with
    * EXACT token-set Jaccard and filtered at 0.9. The reported set is
    * therefore deterministic = "all pairs with exact Jaccard ≥ 0.9", which
    * the oracle states directly.
    *
    * This MLlib path is deliberately NOT used for the unbounded corpus:
    * `approxSimilarityJoin` evaluates `keyDistance` per candidate inside
    * the hash-bucket join, so a large near-dup clique (one hot bucket)
    * becomes a single multi-minute task — measured 20+ min on one core at
    * sf0.1, where the corpus carries ~10⁶ true ≥0.9 pairs. The full-corpus
    * path is [[minhashBandCandidates]] + [[verifyAndExpand]], which
    * separates cheap pair EMISSION from verification so the expensive part
    * redistributes.
    */
  private def minhashDedup(s: SparkSession, d: String,
                           bound: Option[Long]): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    def bounded(df: DataFrame): DataFrame =
      bound.fold(df)(b => df.where(col("doc_id") < b))
    val docs = bounded(t(s, d, "documents"))
      .withColumn("tok_arr", split(col("text"), " "))
    val tf = new HashingTF().setInputCol("tok_arr").setOutputCol("features")
      .setNumFeatures(1024).setBinary(true)
    val feat = tf.transform(docs).select("doc_id", "features")
    val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(8).setSeed(42L)
    val model = mh.fit(feat)
    val cand = model.approxSimilarityJoin(feat, feat, 0.5, "jaccard_dist")
      .select(col("datasetA.doc_id").as("d1"), col("datasetB.doc_id").as("d2"))
      .where(col("d1") < col("d2"))
    // exact re-verification over token SETS, candidates only; per-doc
    // array_distinct replaces the (doc_id, token) distinct shuffle —
    // identical relation, per-row work (round 12)
    val tk = bounded(t(s, d, "documents")).select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("token"))
    val sizes = tk.groupBy("doc_id").agg(count(lit(1)).as("nt"))
    cand
      .join(tk.select(col("doc_id").as("d1"), col("token")), "d1")
      .join(tk.select(col("doc_id").as("d2"), col("token")), Seq("d2", "token"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("nt").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("nt").as("n2")), "d2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .where(col("jaccard") >= 0.9)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Shared oracle CTE: the exact Jaccard pair relation `j`, via the
    * quadratic token self-join DuckDB can afford at oracle scale.
    * `boundPred` filters the token stream ("" = full corpus).
    */
  private[ops] def pairCte(boundPred: String): String =
    s"""$toksSql,
        tk AS (SELECT DISTINCT doc_id, token FROM toks $boundPred),
        sizes AS (SELECT doc_id, count(*) AS nt FROM tk GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id),
        j AS (
          SELECT d1, d2, inter, s1.nt AS n1, s2.nt AS n2,
            CAST(inter AS DOUBLE) / (s1.nt + s2.nt - inter) AS jaccard
          FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
                     JOIN sizes s2 ON d2 = s2.doc_id)"""

  /** Oracle for the pair-emitting dedups: all ≥0.9 pairs, sorted. */
  private def minhashOracleSql(boundPred: String): String =
    s"""WITH ${pairCte(boundPred)}
        SELECT d1, d2, inter, n1, n2, round(jaccard, 6) AS jaccard
        FROM j WHERE jaccard >= 0.9 ORDER BY d1, d2"""

  // ------------------------------------------------------------------
  // Corpus-scale dedup machinery (shared by dedup_minhash_full and
  // dedup_allpairs_exact). Three-stage design, each stage sized for the
  // dense-near-dup corpora LLM pipelines actually see (this testdata has
  // ~10⁶ true ≥0.9 pairs at sf0.1 — pair output is inherently quadratic
  // in clique size, so everything BEFORE expansion works at token-SET
  // granularity and the clique blow-up happens only at emission):
  //  1. group docs by DISTINCT TOKEN SET (exact dedup of word-order
  //     shuffles — one shuffle, cuts every later stage by the duplication
  //     factor);
  //  2. generate candidate SET pairs sub-quadratically (banded minhash or
  //     exact prefix filter), with the ≥0.9 length-ratio bound
  //     (10·min(n1,n2) ≥ 9·max — a valid exact pruning) applied inside
  //     the bucket join;
  //  3. verify candidates with one codegen'd array_intersect per SET pair
  //     — never per doc pair — then expand to doc pairs.
  // ------------------------------------------------------------------

  /** Documents grouped by distinct token set: (ts, set_id, members, nt).
    * `members` is bounded by the near-dup clique size; collect_list here
    * is the same O(clique) memory the final pair expansion pays anyway.
    *
    * CACHED: the groups relation is consumed 6-9× per dedup query
    * (signatures, both candidate join sides, both verify sides, both
    * member expansions, the within-clique pairs), and column pruning
    * specializes each consumer's aggregate so exchange reuse never fires
    * — measured 7 independent recomputations of the scan→shuffle→agg
    * subtree in one query plan. Materializing it once is the standard
    * move for a shared dedup intermediate; memory is O(#distinct sets),
    * storage-level default (MEMORY_AND_DISK, LRU-evictable).
    */
  private[graft] def tokenSetGroups(s: SparkSession, d: String): DataFrame = {
    // sorted 64-bit token codes, materialized ONCE per set at cache
    // build (round 13): the verify path merges these instead of the
    // token strings — computing them per steady run cost ~0.1 s of
    // per-set transform+sort on every verify-side broadcast; in the
    // cache they are nt×8 B per set (~25% growth) that only the
    // verify consumers ever scan (columnar cache prunes columns). The
    // string tier duplicates the ts column in the cache; acceptable for
    // the rare tier it serves.
    Memo.cached(s, s"${codingKey(s, d)}|tokenSetGroups")(
      t(s, d, "documents")
        .select(col("doc_id"),
          array_sort(array_distinct(split(col("text"), " "))).as("ts"))
        .groupBy("ts")
        .agg(min("doc_id").as("set_id"),
          sort_array(collect_list(col("doc_id"))).as("members"))
        .withColumn("nt", size(col("ts")).cast("long"))
        .withColumn("th", sortedTokenCodes(s, d, col("ts")))
        .cache())
  }

  /** The sorted array a token set merges on: its distinct tokens under
    * the corpus's verified-injective 64-bit coding (seed resolved by
    * [[injectiveCodeSeed]], memoized per corpus), or — when no seed is
    * injective — the sorted token strings themselves, so the same plan
    * merges strings (`sorted_intersect_count` takes both element types).
    * Under either tier the array's size is the distinct-token count and
    * intersection sizes equal the token-set intersections. The only
    * place the seed/fallback decision is taken: the dedup verify path
    * (via [[tokenSetGroups]]' `th`) and dedup_containment's per-document
    * sets both call it. `distinctTokens` must already be distinct.
    */
  private[ops] def sortedTokenCodes(s: SparkSession, d: String,
                                    distinctTokens: Column): Column =
    injectiveCodeSeed(s, d) match {
      case Some(seed) =>
        array_sort(transform(distinctTokens, tkn => tokenCode(s, seed, tkn)))
      case None => array_sort(distinctTokens)
    }

  /** Candidate set pairs via hand-rolled banded MinHash: 8 signatures per
    * set as `array_min(transform(ts, xxhash64(band, token)))` — pure
    * codegen, no shuffle — exploded to (band, hash) keys and self-joined
    * per bucket. Equality on any one of 8 independent minhashes misses a
    * true ≥0.9 pair with probability (1-0.9)^8 = 1e-8. The bucket join
    * only EMITS (sa, sb) — verification happens after redistribution, so
    * a hot bucket (a giant clique) costs pair emission, not Jaccard math,
    * on its single task.
    */
  /** The (set_id, nt, band, h) banding relation the candidate self-join
    * buckets on. Factored out so ScaleSpec can measure the max (band, h)
    * bucket width directly — the quantity that decides whether the
    * bucket self-join's worst task stays bounded as the corpus grows.
    */
  private[graft] def minhashBands(groups: DataFrame): DataFrame = {
    val k = 8
    val sig = groups.select(col("set_id"), col("nt"),
      array((0 until k).map(i => array_min(transform(col("ts"),
        tkn => xxhash64(lit(i), tkn)))): _*).as("sig"))
    sig.select(col("set_id"), col("nt"),
      posexplode(col("sig")).as(Seq("band", "h")))
  }

  private[graft] def minhashBandCandidates(groups: DataFrame): DataFrame = {
    val bands = minhashBands(groups)
    val a = bands.select(col("set_id").as("sa"), col("nt").as("na"),
      col("band"), col("h"))
    val b = bands.select(col("set_id").as("sb"), col("nt").as("nb"),
      col("band"), col("h"))
    // a near-identical pair matches on ~all k bands; distinct collapses
    // the ≤k× duplication in one hash-shuffle (measured cheaper than a
    // first-match-band predicate, which must evaluate an array compare on
    // every pre-filter joined row)
    a.join(b, Seq("band", "h"))
      .where(col("sa") < col("sb") &&
        col("na") * 10 >= col("nb") * 9 && col("nb") * 10 >= col("na") * 9)
      .select("sa", "sb").distinct()
  }

  /** Candidate set pairs via EXACT prefix filtering (the AllPairs/PPJoin
    * family): rank each set's tokens by global rarity (df, token — one
    * total order shared by all sets), index only the first
    * ⌊nt/10⌋+1 rarest tokens, and self-join on those. Two sets with
    * Jaccard ≥ 0.9 MUST share a prefix token under any common total
    * order, so recall is 1.0 by theorem, not probability — and common
    * tokens (the df-heavy tail that makes a naive inverted-index join
    * quadratic) are never indexed.
    */
  private[graft] def prefixCandidates(groups: DataFrame): DataFrame = {
    val tk = groups.select(col("set_id"), col("nt"), explode(col("ts")).as("token"))
    val dfreq = tk.groupBy("token").agg(count(lit(1)).as("df"))
    // cached for the same reason as tokenSetGroups: both self-join sides
    // consume this relation and the window subtree would otherwise run
    // twice (an uncached structurally-identical self-join was tried in
    // round 13: exchange reuse does NOT fire — AQE broadcasts the second
    // side and the window subtree runs twice). The cache is projected to
    // set_id/nt/token/rk first (round 13 — df dropped before
    // materialization; rk is kept because the positional filter below
    // needs both sides' prefix ranks), so it holds only the ⌊nt/10⌋+1
    // prefix tokens per SET (~0.4 rows per document at 10% prefix), far
    // smaller than the corpus.
    val ranked = Memo.cached(groups.sparkSession,
      s"plan${groups.queryExecution.analyzed.semanticHash()}|prefixCandidates")(
      tk.join(dfreq, "token")
        .withColumn("rk", row_number().over(
          Window.partitionBy("set_id").orderBy(col("df"), col("token"))))
        .where(col("rk") <= floor(col("nt") / lit(10)) + 1)
        .select("set_id", "nt", "token", "rk")
        .cache())
    val a = ranked.select(col("set_id").as("sa"), col("nt").as("na"),
      col("token"), col("rk").as("i"))
    val b = ranked.select(col("set_id").as("sb"), col("nt").as("nb"),
      col("token"), col("rk").as("j"))
    // Positional filter (round 13 — PPJoin's second theorem, applied
    // per matched token BEFORE the distinct shuffle): both sets list
    // tokens in the same global (df, token) total order, so for a match
    // at positions (i, j), every shared token is t itself, before t in
    // BOTH sets (≤ min(i,j)−1 of them), or after t in both (≤
    // min(na−i, nb−j)) — hence inter ≤ min(i,j) + min(na−i, nb−j).
    // A true ≥0.9 pair has inter ≥ 0.9(na+nb)/1.9 (⇔ 19·inter ≥
    // 9·(na+nb), exact integer form), and the bound holds for EVERY one
    // of its matches, so every match of a true pair survives — recall
    // stays 1.0 by theorem. What dies: matches whose positions sit far
    // apart in the rarity order (bound ≈ n − |i−j| for same-size sets,
    // so only |i−j| ≲ 0.05·n attests). Measured at sf0.1: 2.07 M →
    // 1.86 M candidate pairs (~10% — this corpus's shared rare tokens
    // already sit near-diagonal in both sets' rarity orders, so most
    // matches genuinely need verification); kept because it is free (a
    // scalar predicate on columns the join already carries), exact, and
    // its payoff grows with vocabulary skew — corpora whose duplicates
    // share commoner prefix tokens are exactly where the plain prefix
    // join over-generates.
    a.join(b, Seq("token"))
      .where(col("sa") < col("sb") &&
        col("na") * 10 >= col("nb") * 9 && col("nb") * 10 >= col("na") * 9 &&
        lit(19) * (least(col("i"), col("j")) +
          least(col("na") - col("i"), col("nb") - col("j"))) >=
          lit(9) * (col("na") + col("nb")))
      .select("sa", "sb").distinct()
  }

  /** Seeds the token coding tries, in order. The first is the round-13
    * production seed (so the default corpus keeps its measured plans and
    * bands bit-for-bit); the rest exist for the mechanical retry below —
    * a fresh xxhash64 seed draws an independent coding, so the chance
    * that a corpus collides under BOTH of two seeds is the square of the
    * already-birthday-rare single-seed probability.
    */
  private[graft] val codeSeeds: Seq[Int] = Seq(0xC0DE, 0xC0DF, 0xC0E0)

  /** The 64-bit token coding at `seed`. The session conf
    * `graft.dedup.collideSeeds` (CSV of seeds, TESTS ONLY) degrades the
    * named seeds to 7 buckets so a collision — a once-per-~2³²-tokens
    * event in production — is forced by pigeonhole on any corpus with
    * more than 7 distinct tokens (sf0.001 has 31) and the fallback tiers
    * proven to emit identical pairs (round-14 verdict #2: the recovery
    * path must be exercised code, not a comment).
    */
  private def tokenCode(s: SparkSession, seed: Int, tkn: Column): Column = {
    val base = xxhash64(lit(seed), tkn)
    if (collideSeeds(s).split(",").contains(seed.toString)) pmod(base, lit(7L))
    else base
  }
  private def collideSeeds(s: SparkSession): String =
    s.conf.get("graft.dedup.collideSeeds", "")

  /** What decides the dedup plans of a session: the corpus dir and the
    * token coding, which is a function of the corpus and the test-only
    * fault conf. Every dedup [[Memo]] entry is keyed by it, never by
    * session identity, so sessions that would build the same plan share
    * one entry and a session under the fault conf gets its own.
    */
  private def codingKey(s: SparkSession, d: String): String =
    s"$d|${collideSeeds(s)}"

  /** Verified-injective token coding (round 13; mechanical fallback
    * round 14): the dedup verify path (and dedup_containment) merges
    * sorted xxhash64 token CODES instead of token strings — 8 fixed
    * bytes per element through the candidate join instead of
    * variable-length UTF8 (measured ~3× less
    * bytes moved through the verify stage, the board's densest all-core
    * compute block and the reason dedup_allpairs_exact amplified host
    * contention ~2× over the sweep median in the round-12/13 anomaly
    * hunts). Intersection counts over the coded arrays equal the true
    * token intersections IFF the coding is injective on the corpus
    * vocabulary — PROVEN per corpus with one distributed aggregate
    * (distinct tokens vs distinct codes over the token dictionary).
    * Exactness is thus a theorem conditioned on a machine-checked
    * premise — the same posture as the overflow-guarded exact arithmetic
    * in ScalableCumulate.
    *
    * Recovery is mechanical, never an abort (round-14 verdict #2 — at a
    * real 100 TB vocabulary ~2³² distinct tokens the birthday bound makes
    * a collision EXPECTED, so the reaction cannot be a `require`):
    * seeds are tried in [[codeSeeds]] order and the first injective one
    * wins (each failure logs loudly); if every seed collides, this
    * returns None and [[sortedTokenCodes]] ships the sorted token STRINGS
    * (as `th` and as dedup_containment's sets), so the merges run on
    * strings — exact with zero premises, just ~3× more merge traffic.
    * TokenCodingFallbackSpec forces both tiers with a synthetic collision
    * and asserts row-for-row equality.
    *
    * The verdict is corpus-determined, so it is memoized per corpus (plus
    * the fault conf) at context scope (round-14 ADVICE): one small
    * aggregate per seed tried, once per corpus per context.
    */
  private[graft] def injectiveCodeSeed(s: SparkSession, d: String): Option[Int] = {
    Memo.context(s, s"${codingKey(s, d)}|codeSeed") {
      // persisted for the duration of the seed search (round-14 ADVICE):
      // the happy path runs ONE aggregate (the persist fills during it),
      // but a collision-heavy corpus would otherwise re-explode the
      // documents scan once per retried seed — up to three full scans
      // before the string fallback.
      val toks = t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token")).persist()
      val seed = try {
        val found = codeSeeds.find { sd =>
          val r = toks.agg(countDistinct(col("token")).as("ntok"),
            countDistinct(tokenCode(s, sd, col("token"))).as("ncode")).head()
          val ok = r.getLong(0) == r.getLong(1)
          if (!ok) System.err.println(
            s"[graft] token-code collision at seed 0x${sd.toHexString}: " +
              s"${r.getLong(0)} distinct tokens -> ${r.getLong(1)} distinct " +
              "64-bit codes; retrying with the next seed")
          ok
        }
        if (found.isEmpty) System.err.println(
          s"[graft] no injective token coding after ${codeSeeds.size} seeds — " +
            "dedup verify falls back to merging sorted token strings " +
            "(exact unconditionally, ~3x more verify traffic)")
        found
      } finally { toks.unpersist(); () }
      seed
    }
  }

  /** Sorted token-code arrays per set, read straight off the cached
    * groups relation (`th` is materialized once at cache build; the
    * saving vs strings is per-PAIR join traffic).
    */
  private def codedSide(groups: DataFrame, side: String, n: String): DataFrame =
    groups.select(col("set_id").as(side), col("th").as(s"th_$side"),
      col("nt").as(n),
      // member-grain metadata rides the verified pair relation (round
      // 15): member count and minimum member (members is sorted) let
      // the degree/cluster consumers aggregate at SET grain without
      // re-joining the cached groups against the memo — a join whose
      // inflated size estimate baited the optimizer into injecting a
      // runtime bloom filter (two extra aggregate subqueries per query)
      // that can never pay off on this relation.
      size(col("members")).cast("long").as(s"msz_$side"),
      element_at(col("members"), lit(1)).as(s"m0_$side"))

  /** Exact verification at SET granularity: candidate (sa, sb) pairs →
    * surviving pairs with (inter, na, nb, jaccard). One intersection per
    * candidate SET pair (codegen'd, redistributed by the candidates'
    * `distinct` shuffle — never stuck on the bucket join's hot task).
    * The set-metadata joins are size-based (no broadcast hint): set
    * count ≪ doc count by the duplication factor, but it is
    * corpus-proportional, so the hint is left to Catalyst.
    *
    * The intersect merges whatever [[tokenSetGroups]] shipped as `th`:
    * 64-bit token codes under a per-corpus-verified injective seed, or
    * the sorted token strings when no seed is injective — see
    * [[injectiveCodeSeed]] for the exactness argument and fallback tiers.
    */
  private def verifySetPairs(groups: DataFrame, cand: DataFrame): DataFrame = {
    graft.GraftExtensions.ensure(groups.sparkSession)
    val g1 = codedSide(groups, "sa", "na")
    val g2 = codedSide(groups, "sb", "nb")
    // intersection size via the native merge expression: both th arrays
    // are sorted+distinct by construction (distinct tokens × injective
    // coding), so a linear merge replaces array_intersect's per-row hash
    // set + materialized array — measured ~18 s → sub-second on the
    // 2M-candidate verify at sf0.1 (the filter and project stages each
    // re-evaluate the expression, multiplying whatever it costs)
    cand
      .join(g1, "sa").join(g2, "sb")
      .withColumn("inter", expr("sorted_intersect_count(th_sa, th_sb)"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= 0.9)
      .select("sa", "sb", "inter", "na", "nb", "jaccard",
        "msz_sa", "m0_sa", "msz_sb", "m0_sb")
  }

  /** Verified ≥0.9 SET-pair relation from the banded-minhash path, built
    * once per (SparkContext, sfDir, token coding) and shared by every
    * session of the context. Four declared queries (dedup_minhash_full,
    * dedup_canonical, dedup_cc_labelprop, dedup_incremental) and the
    * set-graph analytics consume this exact relation; before memoization
    * each rebuilt the candidate join + verify from scratch (~2-3 s apiece
    * at sf0.1). The relation is tiny (O(surviving set pairs), ~29k rows at
    * sf0.1) and corpus-determined, so it is shared state of the context,
    * like Spark's own CacheManager — not per-session state.
    *
    * Storage is the shared CacheManager, filled eagerly by the first
    * build, so consumers plan against the filled InMemoryRelation's
    * ACTUAL byte size (round 15: the verify join's inflated size ESTIMATE
    * made every consumer's join against the memo look like a 10 GB+
    * application side, and the optimizer injected a runtime bloom filter
    * that can never pay off on this relation). What is cached is the
    * verify relation's localCheckpoint, whose blocks are released once
    * the cache is filled. Two alternatives were measured at sf0.1 and
    * rejected. Caching the verify plan itself puts its candidate-join
    * exchanges inside every consumer's plan (dedup_canonical's planned
    * exchanges 15 → 51, graph_triangle_count 5 → 77 against
    * PlanGuardSpec's pinned budgets). Caching a LogicalRDD over the
    * verify plan's un-checkpointed RDD keeps lineage recovery, but that
    * lineage pins the candidate join's broadcast: +37 MB of retained
    * driver heap, or a 2× slower build (5 → 10 s) with a shuffled
    * candidate join. So a lost cached block cannot be recomputed and
    * fails its consumer loudly ("checkpoint block not found"); local
    * mode never loses MEMORY_AND_DISK blocks. A LogicalRDD matches its
    * cache entry only through the same RDD, so one handle per key is
    * kept and re-rooted into the caller's session.
    *
    * The handle is a context-scoped [[Memo]] entry: one single-flight
    * build, published once filled, rebuilt once its cache entry is gone.
    * dedup_allpairs_exact intentionally does NOT use this: its point is
    * the exact prefix-filter path, so it must run its own candidates.
    */
  private[graft] def minhashSetPairs(s: SparkSession, d: String): DataFrame =
    Memo.cached(s, s"${codingKey(s, d)}|setPairs")(buildSetPairs(s, d))
  /** Cumulative wall-clock spent in [[buildSetPairs]] this JVM — the
    * one-time memo build cost the per-query bench numbers deliberately
    * exclude (it lands in the first consumer's discarded sample). Bench
    * reads this and carries it in the artifact so the cold-path cost
    * stays visible even though no steady-state sample pays it.
    */
  private val memoBuildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  def memoBuildSeconds: Double = memoBuildNanos.get() / 1e9
  /** Number of [[buildSetPairs]] runs this JVM: one per key, plus one per
    * rebuild after the entry was released. */
  private val memoBuildCount = new java.util.concurrent.atomic.AtomicLong(0L)
  def memoBuilds: Long = memoBuildCount.get()
  private def buildSetPairs(s: SparkSession, d: String): DataFrame = {
    val t0 = System.nanoTime()
    val groups = tokenSetGroups(s, d)
    val ck =
      verifySetPairs(groups, minhashBandCandidates(groups)).localCheckpoint()
    ck.cache().count()
    // single storage (round 16): consumers scan the filled cache, so the
    // checkpoint blocks under it are redundant
    ck.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _ =>
    }
    memoBuildCount.incrementAndGet()
    memoBuildNanos.addAndGet(System.nanoTime() - t0)
    ck
  }

  /** Expansion of surviving set pairs to doc pairs; identical-set groups
    * expand directly to jaccard-1.0 pairs with no verification at all.
    * n1/n2 follow the d1<d2 orientation.
    */
  private def verifyAndExpand(groups: DataFrame, cand: DataFrame): DataFrame =
    expandSetPairs(groups, verifySetPairs(groups, cand))

  private[ops] def expandSetPairs(groups: DataFrame, setPairs: DataFrame): DataFrame = {
    // member lists join AFTER the ≥0.9 filter, so the clique arrays ride
    // only on survivors, never on the full candidate stream
    val mem1 = groups.select(col("set_id").as("sa"), col("members").as("m1"))
    val mem2 = groups.select(col("set_id").as("sb"), col("members").as("m2"))
    val cross = setPairs
      .join(mem1, "sa").join(mem2, "sb")
      .select(col("inter"), col("na"), col("nb"), col("jaccard"),
        explode(col("m1")).as("da"), col("m2"))
      .select(col("inter"), col("na"), col("nb"), col("jaccard"),
        col("da"), explode(col("m2")).as("db"))
      .select(
        least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"),
        col("inter"),
        when(col("da") < col("db"), col("na")).otherwise(col("nb")).as("n1"),
        when(col("da") < col("db"), col("nb")).otherwise(col("na")).as("n2"),
        col("jaccard"))
    val within = groups.where(size(col("members")) > 1)
      .select(col("nt"), col("members"),
        posexplode(col("members")).as(Seq("i", "d1")))
      .select(col("nt"), col("d1"), col("i"),
        posexplode(col("members")).as(Seq("j", "d2")))
      .where(col("i") < col("j"))
      .select(col("d1"), col("d2"), col("nt").as("inter"),
        col("nt").as("n1"), col("nt").as("n2"),
        (col("nt").cast("double") / col("nt")).as("jaccard"))
    // unsorted: pair-relation callers append the presentation ORDER BY;
    // the canonical-assignment consumer aggregates instead and must not
    // pay a useless global sort of the quadratic pair stream
    cross.unionByName(within)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Eager localCheckpoint + STATS truncation for iterated relations
    * (round 14). `Dataset.localCheckpoint` truncates LINEAGE but
    * `LogicalRDD.fromDataset` carries the origin plan's ESTIMATED stats
    * forward — and a loop whose next round references the checkpointed
    * result more than once (labelprop: stepped⋈stepped pointer doubling
    * plus two hop references) MULTIPLIES that sizeInBytes estimate into
    * itself, so its BigInt bit length grows ×4 per round. Measured on a
    * diameter-511 chain: 37 bits → 10.4 MILLION bits by round 10, at
    * which point Catalyst's stats arithmetic (BigInteger.multiply under
    * SizeInBytesOnlyStatsPlanVisitor) is the dominant DRIVER cost — 63 s
    * for one round over 512 rows, executor threads parked (jstack
    * evidence; jobs/tasks/plan depth all constant). Clique-dense near-dup
    * corpora converge in ~5 rounds and never felt it; long drift chains
    * (diameter ≫ 2^rounds) are exactly the 100 TB crawl shape. Rebuilding
    * the frame from the checkpointed RDD resets stats to the session
    * default — constant bits per round — at the price of one Row
    * encode/decode layer over the contracted graph (KB–MB scale, linear).
    * After the fix the same chain runs every round at the scheduler
    * floor. Single-reference loops (pagerank's pr) grow stats
    * ADDITIVELY and do not need this.
    */
  private[graft] def ckptStatsTruncated(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** The min-label-propagation fixpoint on a contracted set graph:
    * every set takes the min of its own and its neighbors' labels (one
    * edge⋈label join + min-aggregate per round) plus pointer doubling,
    * converged when no label changes, bounded by component diameter.
    * Returns (labels(sid, lbl), rounds). Factored out of the
    * dedup_cc_labelprop Spec (round 14) so the scale rung can drive the
    * SAME loop on derived 10×/100× replica graphs and long-diameter
    * chain graphs — measuring that rounds grow with component diameter
    * (log-ish under pointer doubling) while per-round cost stays
    * scheduler-floor-bound until the contracted graph is large enough
    * for data cost to take over (docs/SCALE.md carries the table).
    *
    * `setPairs` must expose sa/sb (undirected edge per row, sa<sb);
    * `setIds` one `set_id` row per vertex.
    */
  private[graft] def labelPropLoop(setPairs: DataFrame,
                                   setIds: DataFrame): (DataFrame, Int) = {
    // size the iteration's parallelism to the CONTRACTED graph: the
    // per-round cost of a tiny graph at full shuffle width is pure
    // scheduler overhead (measured ~1.6 s/round at 32 partitions vs
    // ~0.2 s at 1 for a 58k-edge graph); a 100 TB corpus contracts to
    // millions of sets and scales the width back up. The pair count
    // comes free off the memoized relation — a scan of its cache.
    val p = math.max(1, math.min(32, (2L * setPairs.count() / 500000L).toInt))
    // NOTE (round 13): disabling AQE for the loop was measured and
    // REJECTED — static plans sort-merge-join the tiny relations at
    // full shuffle width (steady 2.5 s → 14+ s); AQE's runtime
    // broadcast conversion is load-bearing here even though its
    // per-exchange stage-jobs dominate the loop's wall clock
    // (JobProf: ~134 jobs × ~20 ms for one steady execution).
    //
    // Self-loop edges (round 15): min(own, neighbors' min) ≡ min over
    // {self} ∪ neighbors, so appending one (sid, sid) loop per vertex to
    // the checkpointed edge relation folds the post-aggregate
    // least/coalesce left-join into the neighbor-min aggregate itself —
    // one exchange fewer per round, paid once here with |V| extra edge
    // rows. Isolated vertices ride their self-loop through the join, so
    // the all-vertices left join is not needed either.
    //
    // Static-plan tier for the TINY contracted graph (round 15): when p
    // collapsed to 1 (< 250k set pairs — KBs of label/edge data), the
    // loop runs in the helper session (ScalableCumulate.inHelper: AQE
    // off, shuffle width 1 = p) with explicit broadcast hints on the
    // label side, and its labels move back to the caller's session at
    // the end. The r13 "AQE off is catastrophic" finding holds only for
    // full-width (32) static SMJ plans with no hints; with width 1 +
    // hinted BroadcastHashJoin the static plan is 3 tiny jobs/round with
    // zero AQE replanning latency (JobProf at sf0.1: see
    // OPTIMIZATION_r15.md). At scale p grows past 1, `tiny` is false and
    // the loop keeps the caller's session and the measured AQE path
    // (runtime broadcast conversion, skew handling) — labels are O(|V|)
    // there and must never carry a broadcast hint.
    val tiny = p == 1
    def inLoop(df: DataFrame): DataFrame = if (tiny) ScalableCumulate.inHelper(df) else df
    def maybeB(df: DataFrame): DataFrame = if (tiny) broadcast(df) else df
    val pairs = inLoop(setPairs)
    val ids = inLoop(setIds)
    val edges = pairs.select(col("sa").as("sid"), col("sb").as("nb"))
      .unionByName(pairs.select(col("sb").as("sid"), col("sa").as("nb")))
      .unionByName(ids.select(col("set_id").as("sid"),
        col("set_id").as("nb")))
      .repartition(p).localCheckpoint()
    var labels = ids.select(col("set_id").as("sid"),
      col("set_id").as("lbl")).repartition(p).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 50) {
      // Round-13 floor analysis (the r12 verdict's round-fusion
      // order, investigated to a measured conclusion): the loop's
      // wall time is NOT "2 jobs/round" — AQE materializes every
      // exchange as its own stage-job. Round-14 re-measure with the
      // corrected per-job counter (the r13 "~134" figure counted
      // per-stage listener lines too — r13 ADVICE): 83 true jobs /
      // 3.1 s for one steady sf0.1 execution, ~37 ms of scheduler
      // round trip per job over KB-sized data — same conclusion,
      // corrected count. Three fusion attempts, all measured at
      // sf0.1 and REJECTED:
      //   (a) pointer QUADRUPLING — did not cut rounds (the label
      //       forest is already shallow after each neighbor-min;
      //       the graph-diameter bound binds, not chain length);
      //   (b) multi-EDGE-hop rounds (hop∘hop∘hop per round) — cut
      //       rounds 5 → 3 but wall time was a wash (A/B with the
      //       memo pre-built: 2.9-3.2 s both): total exchange count
      //       is invariant under fusion and AQE schedules per
      //       EXCHANGE, not per round;
      //   (c) AQE OFF for the loop — catastrophic (steady 2.5 →
      //       14+ s): static plans sort-merge-join the tiny
      //       relations at full shuffle width; AQE's runtime
      //       broadcast conversion is load-bearing.
      // Conclusion: Spark's per-exchange scheduling minimum is the
      // binding constraint for iterative ops on a CONTRACTED graph
      // this small; the query stays on the SLOW allowlist with this
      // breakdown as the justification. (At 100 TB the contracted
      // graph is millions of sets and the per-round DATA cost
      // dominates — the fixed floor is a local[32]-at-sf0.1
      // artifact, which is why fusing it buys nothing real. The
      // round-14 scale rung MEASURES that takeover: see the
      // labelprop rows in docs/SCALE.md.)
      // one neighbor-min hop per round (see the floor analysis above
      // for why fusing more hops in is a measured wash). The self-loop
      // rows make the aggregate itself compute least(own, neighbor
      // min); `prev` rides along for the convergence compare.
      def hop(lab: DataFrame): DataFrame = edges
        .join(maybeB(lab.select(col("sid").as("nb"), col("lbl").as("nlbl"))),
          "nb")
        .groupBy("sid").agg(min("nlbl").as("lbl"))
      val (next, nChanged) = {
        val stepped = ckptStatsTruncated(hop(labels)
          .join(maybeB(labels.select(col("sid"), col("lbl").as("prev"))),
            "sid"))
        // pointer doubling stays: follow the label's own label
        // (lbl(lbl(v))) so a min also travels label-forest shortcuts —
        // a self-join over the checkpointed `stepped`. Round 15: the
        // doubled relation is checkpointed TOO, because it has two
        // consumers (the convergence count and the next round's hop)
        // and each would otherwise re-execute the doubling join — the
        // count paid it once and the next round's materialization paid
        // it AGAIN. Materializing `next` makes the count a trivial
        // scan of in-memory blocks and hands the next round a plan
        // that starts at the checkpoint.
        val nx = ckptStatsTruncated(stepped
          .join(maybeB(stepped.select(col("sid").as("lbl"),
            col("lbl").as("plbl"))), Seq("lbl"), "left")
          .select(col("sid"), col("prev"),
            coalesce(col("plbl"), col("lbl")).as("nxt")))
        (nx, nx.where(col("nxt") =!= col("prev")).count())
      }
      changed = nChanged
      labels = next.select(col("sid"), col("nxt").as("lbl"))
      iter += 1
    }
    // a capped exit with changed>0 would emit non-converged labels —
    // distinguish it loudly from a genuine fixpoint
    if (changed > 0)
      System.err.println(s"[graft] WARNING labelPropLoop hit the " +
        s"iteration cap after $iter rounds with $changed labels still " +
        "changing — component labels may be NON-CONVERGED")
    else
      System.err.println(s"[graft] labelPropLoop converged after $iter rounds")
    (graft.GraftSession.reroot(setPairs.sparkSession, labels), iter)
  }

  val all: Seq[Spec] = Seq(
    // ------------------------------------------------------ deduplication
    Spec("dedup_exact",
      (s, d) => t(s, d, "documents")
        .groupBy(sha2(col("text"), 256).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))
        .orderBy("text_hash"),
      Some("""SELECT sha256(text) AS text_hash, count(*) AS n_copies,
                min(doc_id) AS canonical_id
              FROM documents GROUP BY sha256(text) ORDER BY text_hash""")),

    // Exact Jaccard over token SETS on a fixed probe window (constant work
    // at any corpus size); the unbounded scale path is dedup_minhash_lsh.
    Spec("dedup_near_shingle",
      (s, d) => {
        // per-doc array_distinct ≡ (doc_id, token) distinct, no shuffle
        val tk = t(s, d, "documents").where(col("doc_id") < 200)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
        val sizes = tk.groupBy("doc_id").agg(count(lit(1)).as("nt"))
        val pairs = tk.select(col("doc_id").as("d1"), col("token"))
          .join(tk.select(col("doc_id").as("d2"), col("token")), "token")
          .where(col("d1") < col("d2"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
        pairs
          .join(sizes.select(col("doc_id").as("d1"), col("nt").as("n1")), "d1")
          .join(sizes.select(col("doc_id").as("d2"), col("nt").as("n2")), "d2")
          .withColumn("jaccard",
            col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
          .where(col("jaccard") >= 0.9)
          .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy("d1", "d2")
      },
      Some(s"""WITH $toksSql,
               tk AS (SELECT DISTINCT doc_id, token FROM toks WHERE doc_id < 200),
               sizes AS (SELECT doc_id, count(*) AS nt FROM tk GROUP BY doc_id),
               pairs AS (
                 SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                 FROM tk a JOIN tk b ON a.token = b.token AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
               j AS (
                 SELECT d1, d2, inter, s1.nt AS n1, s2.nt AS n2,
                   CAST(inter AS DOUBLE) / (s1.nt + s2.nt - inter) AS jaccard
                 FROM pairs JOIN sizes s1 ON d1 = s1.doc_id
                            JOIN sizes s2 ON d2 = s2.doc_id)
               SELECT d1, d2, inter, n1, n2, round(jaccard, 6) AS jaccard
               FROM j WHERE jaccard >= 0.9 ORDER BY d1, d2""")),

    // MinHash banding on a bounded probe window — see [[minhashDedup]];
    // same relation dedup_near_shingle checks, reached without the
    // quadratic token self-join.
    Spec("dedup_minhash_lsh",
      (s, d) => minhashDedup(s, d, Some(200L)),
      Some(minhashOracleSql("WHERE doc_id < 200"))),

    // Banded MinHash over the ENTIRE corpus — no probe bound at all
    // (round-4 verdict #4): token-set grouping → hand-rolled 8-band
    // minhash bucket join → set-level exact verify → pair expansion (see
    // the corpus-scale dedup machinery above for why MLlib's
    // approxSimilarityJoin is the wrong shape at this corpus density).
    // The oracle pays the quadratic price so the engine doesn't have to.
    Spec("dedup_minhash_full",
      (s, d) => expandSetPairs(tokenSetGroups(s, d), minhashSetPairs(s, d))
        .orderBy("d1", "d2"),
      Some(minhashOracleSql(""))),

    // The same relation with recall 1.0 BY THEOREM: exact prefix-filtered
    // all-pairs similarity join (AllPairs/PPJoin family) — rank tokens by
    // global rarity, index only each set's ⌊nt/10⌋+1 rarest, join on
    // those. No probabilistic caveat at any corpus size, and the df-heavy
    // common tokens that blow up a naive inverted-index join are never
    // indexed. Production default when exactness is contractual.
    Spec("dedup_allpairs_exact",
      (s, d) => {
        val groups = tokenSetGroups(s, d)
        verifyAndExpand(groups, prefixCandidates(groups))
          .orderBy("d1", "d2")
      },
      Some(minhashOracleSql(""))),

    // Production dedup OUTPUT: linear, not quadratic. Every document maps
    // to a canonical representative — the minimum doc_id over its ≥0.9
    // neighborhood, itself included (single hop: deterministic and
    // oracle-expressible without iterative connected components; full
    // transitive closure is an iterative driver loop a pipeline runs on
    // top of exactly this edge relation). At 100 TB the pair listing the
    // sibling queries emit is diagnostics; THIS row-per-doc table, joined
    // back on doc_id with `keep = (doc_id = canonical_id)`, is what the
    // training-data pipeline consumes. Reuses the cached groups + banded
    // candidates + set-level verify; the aggregation replaces the
    // quadratic pair sort with one hash shuffle at doc grain.
    Spec("dedup_canonical",
      (s, d) => {
        val groups = tokenSetGroups(s, d)
        val pairs = expandSetPairs(groups, minhashSetPairs(s, d))
        val edges = pairs.select(col("d1").as("doc_id"), col("d2").as("nb"))
          .unionByName(pairs.select(col("d2").as("doc_id"), col("d1").as("nb")))
        t(s, d, "documents").select("doc_id")
          .join(edges, Seq("doc_id"), "left")
          .groupBy("doc_id")
          .agg(min(col("nb")).as("mn"), count(col("nb")).as("n_neighbors"))
          .select(col("doc_id"),
            least(col("doc_id"), coalesce(col("mn"), col("doc_id")))
              .as("canonical_id"),
            col("n_neighbors"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${pairCte("")},
               p AS (SELECT d1, d2 FROM j WHERE jaccard >= 0.9),
               edges AS (SELECT d1 AS doc_id, d2 AS nb FROM p
                         UNION ALL SELECT d2 AS doc_id, d1 AS nb FROM p)
               SELECT d.doc_id,
                 least(d.doc_id, coalesce(min(e.nb), d.doc_id)) AS canonical_id,
                 count(e.nb) AS n_neighbors
               FROM documents d LEFT JOIN edges e ON d.doc_id = e.doc_id
               GROUP BY d.doc_id ORDER BY d.doc_id""")),

    // TRANSITIVE dedup clusters: connected components of the ≥0.9 graph
    // via min-label propagation — the iterative driver loop dedup_canonical
    // documents, made a first-class operator. The iteration runs on the
    // CONTRACTED graph: components of the doc graph equal components of
    // the token-SET graph (identical-set members are mutually connected,
    // doc edges come from set edges), and `set_id` IS its set's min doc,
    // so the set-graph fixpoint label is directly the component's min
    // doc_id — at sf0.1 that is ~29k set edges instead of ~1.9M doc
    // edges, and the 10⁶-pair expansion never runs at all (measured
    // 17.6 s → ~2 s). Each round: every set takes the min of its own and
    // its neighbors' labels (one edge⋈label join + min-aggregate);
    // converged when no label changes, bounded by the component diameter
    // (near-dup graphs are clique-dense — single digits). localCheckpoint
    // truncates the growing lineage each round so plan size stays O(1) —
    // THE Spark-iterative idiom (same mechanics as MLlib's own iterative
    // jobs). Fixpoint = min doc_id reachable per doc: deterministic
    // regardless of iteration order, which is what makes an exact oracle
    // possible (DuckDB states it as recursive-CTE reachability).
    Spec("dedup_cc_labelprop",
      (s, d) => {
        val groups = tokenSetGroups(s, d)
        val (labels, _) = labelPropLoop(minhashSetPairs(s, d),
          groups.select(col("set_id")))
        groups.select(col("set_id").as("sid"), explode(col("members")).as("doc_id"))
          .join(labels, "sid")
          .select(col("doc_id"), col("lbl").as("component_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${pairCte("")},
               p AS (SELECT d1, d2 FROM j WHERE jaccard >= 0.9),
               e AS (SELECT d1 AS s, d2 AS t FROM p
                     UNION ALL SELECT d2 AS s, d1 AS t FROM p),
               reach(s, t) AS (
                 SELECT doc_id, doc_id FROM documents
                 UNION
                 SELECT r.s, e.t FROM reach r JOIN e ON r.t = e.s)
               SELECT s AS doc_id, min(t) AS component_id
               FROM reach GROUP BY s ORDER BY s""")),


    // INCREMENTAL dedup (round 12) — the crawl-pipeline shape none of the
    // other dedups have: an INCOMING batch (docs with id ≥ 80% of max —
    // the newest slice) is deduped AGAINST the accepted corpus (everything
    // older), asymmetrically: for each new doc, how many old docs does it
    // near-duplicate (Jaccard ≥ 0.9) and which is the earliest? This is
    // the filter an ingestion pipeline runs on every crawl delta. The
    // implementation stays at token-SET grain: per set, split `members`
    // into old/new by the threshold (one array filter over the CACHED
    // groups relation — members are sorted, so element_at(·, 1) IS the
    // min); a new doc's old matches are its own set's old members
    // (jaccard 1.0) plus the old members of every ≥0.9-neighbor set
    // (doc-pair jaccard = set-pair jaccard), aggregated with one join +
    // one hash-agg over the memoized verified pair relation. At 100 TB
    // the incremental form would index ONLY the accepted corpus (build
    // the prefix/band index once, stream each crawl delta against it —
    // strictly cheaper than the symmetric self-join); here the batch is a
    // slice of the same corpus, so the memoized symmetric relation is the
    // cheaper reuse. The threshold is derived from max(doc_id) by exact
    // integer arithmetic on both engines; the eager 1-row max() is
    // budget-charged via the audited seam.
    Spec("dedup_incremental",
      (s, d) => {
        val thr = ScalableCumulate.audited(
          t(s, d, "documents").agg(max("doc_id").as("mx")))
          .head().getLong(0) * 8 / 10
        val g = tokenSetGroups(s, d).select(
          col("set_id"),
          filter(col("members"), m => m < lit(thr)).as("olds"),
          filter(col("members"), m => m >= lit(thr)).as("news"))
          .select(col("set_id"), col("news"),
            size(col("olds")).cast("long").as("n_old"),
            when(size(col("olds")) > 0, element_at(col("olds"), 1))
              .as("min_old"))
        val sp = minhashSetPairs(s, d)
        val sym = sp.select(col("sa").as("sid"), col("sb").as("nb"))
          .unionByName(sp.select(col("sb").as("sid"), col("sa").as("nb")))
        val nbAgg = sym.join(
            g.select(col("set_id").as("nb"), col("n_old").as("nb_n"),
              col("min_old").as("nb_min")), "nb")
          .groupBy("sid")
          .agg(sum("nb_n").as("cross_n"), min("nb_min").as("cross_min"))
        g.where(size(col("news")) > 0)
          .join(nbAgg, col("set_id") === col("sid"), "left")
          .select(explode(col("news")).as("doc_id"),
            (col("n_old") + coalesce(col("cross_n"), lit(0L)))
              .as("n_matches"),
            // least() skips nulls on both engines' Spark side; the oracle
            // states min(od) over the match relation instead, same value
            least(col("min_old"), col("cross_min")).as("min_match_id"))
          .where(col("n_matches") > 0)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${pairCte("")},
               thr AS (SELECT max(doc_id) * 8 // 10 AS t FROM documents),
               m AS (
                 SELECT CASE WHEN d1 >= (SELECT t FROM thr) THEN d1 ELSE d2
                        END AS doc_id,
                        CASE WHEN d1 >= (SELECT t FROM thr) THEN d2 ELSE d1
                        END AS od
                 FROM j
                 WHERE jaccard >= 0.9
                   AND ((d1 < (SELECT t FROM thr)) <>
                        (d2 < (SELECT t FROM thr))))
               SELECT doc_id, count(*) AS n_matches, min(od) AS min_match_id
               FROM m GROUP BY doc_id ORDER BY doc_id"""))
  )
}
