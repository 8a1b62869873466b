package graft

import org.apache.spark.sql.functions.{broadcast, col, max}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression tripwire (round-4 verdict #5): asserts, for EVERY
  * declared query, the physical-plan invariants the 100 TB story depends
  * on. A future Spark upgrade, conf change, or refactor that silently
  * degrades a plan — a join falling back to a cartesian product, a
  * nested-loop join appearing where a hash join was intended, DPP or the
  * runtime bloom filter no longer firing, an exchange sneaking above a
  * bucketed scan — fails here with the query name in the test title,
  * before it ever reaches a bench regression.
  *
  * The allowlists are EXPLICIT and justified inline; anything new that
  * plans a cartesian/BNLJ must either fix its plan or argue its way into
  * the list.
  */
class PlanGuardSpec extends AnyFunSuite {
  import TestSpark._

  /** Queries allowed to plan CartesianProduct: only the declared cross
    * join (5×25 rows by construction).
    */
  private val cartesianAllow = Set("join_cross")

  /** Queries allowed to plan BroadcastNestedLoopJoin — each is either a
    * deliberate cross/theta shape or a broadcast of a BOUNDED side:
    *  - join_cross: the declared cartesian (tiny dims; broadcast variant)
    *  - join_theta_range: pure non-equi predicate — no equi key exists,
    *    BNLJ over a broadcast bounded side IS the plan (the binned/auto
    *    range joins are the scale path)
    *  - join_q15_toprevenue / join_q22_idle_rich / text_tfidf_topk /
    *    evt_rfm / sample_temperature / graph_triangle_count:
    *    1-row global-scalar subquery broadcast back onto the relation —
    *    the standard decorrelation (graph_triangle_count crosses three
    *    1-row aggregates into its single summary row)
    *  - sim_* / dedup_embed_cosine / sim_knn_classify / eval_mrr /
    *    eval_ndcg: fixed probe set (vec_id predicate) broadcast against
    *    the corpus with a non-equi self-exclusion — scan ∥ broadcast ∥
    *    fold, zero shuffle (the eval_* pair rank the same cosine relation)
    *  - text_cross_entropy: 1-row corpus-total aggregate broadcast back
    *    onto the per-doc relation (the text_tfidf_topk decorrelation)
    */
  private val bnljAllow = Set(
    "join_cross", "join_theta_range",
    "join_q15_toprevenue", "join_q22_idle_rich", "text_tfidf_topk",
    "evt_rfm", "sample_temperature", "graph_triangle_count",
    "sim_cosine_topk", "sim_cosine_fused", "sim_dot_native",
    "sim_knn_classify", "dedup_embed_cosine",
    "eval_mrr", "eval_ndcg", "text_cross_entropy",
    "sim_quantized_recall", "dedup_containment",
    // sim_retrieve_rerank: same fixed-probe broadcast ∥ fold shape as
    // sim_quantized_recall (its stage 1 IS that query's quantized scan).
    "sim_retrieve_rerank",
    // text_token_lift: 1-row doc-count broadcast onto the bounded top-20
    // pair grain — the text_tfidf_topk decorrelation.
    "text_token_lift",
    // sql_cte_reuse: pure-theta rank join over the 5-row segment CTE —
    // both sides are the same bounded aggregate (the join_theta_range
    // family); the point of the query is the double CTE reference.
    "sql_cte_reuse",
    // agg_cvar: 1-row threshold broadcast over the fact.
    "agg_cvar",
    // agg_winsorized_mean: same 1-row (p05, p95) broadcast over the fact.
    "agg_winsorized_mean",
    // join_q11_important: Q11's global-total scalar subquery decorrelated
    // to a 1-row aggregate broadcast back onto the grouped relation (the
    // join_q15_toprevenue pattern).
    "join_q11_important",
    // evt_dow_seasonality: 1-row (S, T) global-total aggregate broadcast
    // back onto the 7-row weekday relation — same decorrelation family.
    "evt_dow_seasonality",
    // text_heaps_law: 1-row corpus-max aggregate broadcast back onto the
    // vocab relation (replaced the unpartitioned max window — round 9).
    "text_heaps_law",
    // The inference family: every embedding crossed with the broadcast
    // 1-row model (Inference.model, labels × dim doubles) and scored in
    // its row — directly, or through the cached preds stage.
    "infer_score", "infer_argmax", "infer_ensemble_vote", "eval_accuracy",
    "eval_confusion", "eval_per_class", "eval_topk_err", "eval_kappa_mcc",
    "sim_ivf", "dedup_semantic_cluster")

  /** Pinned per-query shuffle budgets (round 8): the number of shuffle
    * exchanges in each plan, as generated by `graft.Profile --budget`. A
    * change that ADDS a shuffle to any query is the canonical silent scale
    * regression — at 100 TB an extra shuffle is an extra full-data
    * redistribution — so it fails here by name until the budget is
    * consciously regenerated (see Profile's scaladoc for the command).
    * Shrinking below budget is an improvement; the assert is one-sided.
    */
  private val shuffleBudget: Map[String, Int] = budgetTsv("/shuffle_budget.tsv").toMap

  /** Budget-exempt: these two queries' plans embed session cache state
    * (which shared dedup/inference intermediates are already persisted
    * when the plan is built), so their shuffle count differs between a
    * fresh `Profile --budget` session and the suite's shared session. Their scale
    * shape is guarded elsewhere: the memo-reuse test below and ScaleSpec's
    * measured sub-quadratic growth curve.
    */
  private val shuffleBudgetExempt =
    Set("dedup_allpairs_exact", "dedup_semantic_cluster")

  /** Queries whose optimized plan may contain an UNPARTITIONED Window —
    * each cumulates a grain that is BOUNDED by construction, so the
    * single-partition stage holds a fixed-size relation at any data
    * scale (value = the bound). Anything else that plans an
    * empty-partition-spec Window is the canonical 100 TB scale hazard
    * (single-task sort of an unbounded grain) and must route through
    * ScalableCumulate's bucketed two-pass instead — the round-9 rewrite
    * did exactly that for the order-value/user/vocab/eval grains.
    */
  private val unpartWindowAllow: Map[String, String] = Map(
    "ts_seasonal_mape" -> "day grain (~calendar-bounded series)",
    "ts_cusum_changepoint" -> "day grain",
    "ts_autocorr" -> "day grain",
    "win_max_drawdown" -> "day grain",
    "win_rolling_corr" -> "day grain",
    "evt_error_budget" -> "day grain",
    "evt_lifecycle" -> "week × 4-stage grain",
    "agg_benford" -> "9-row digit grain",
    "win_ratio_to_report" -> "flag×status grain (6 rows)",
    "win_percentiles" -> "supplier dim table")

  for (spec <- SparkEntry.specs) {
    test(s"plan guard: ${spec.name}") {
      // reset → build → read on THIS thread; the finally closes the audit
      // window so a failing test can't leave it open and trip the
      // cross-thread ledger canary in a later suite
      ops.ScalableCumulate.resetHiddenShuffles()
      try {
      val df = spec.fn(spark, sf)
      val qe = df.queryExecution
      val unpart = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      if (unpartWindowAllow.contains(spec.name))
        assert(unpart.nonEmpty,
          s"${spec.name} no longer plans an unpartitioned Window — " +
            "remove it from unpartWindowAllow to keep the list honest")
      else
        assert(unpart.isEmpty,
          s"${spec.name} plans an unpartitioned Window (single-task sort " +
            "of its full input at scale) — route the cumulation through " +
            "ScalableCumulate or argue a bounded grain into unpartWindowAllow")
      val plan = qe.executedPlan.toString
      if (!cartesianAllow(spec.name))
        assert(!plan.contains("CartesianProduct"),
          s"${spec.name} plans a CartesianProduct:\n${plan.linesIterator.take(30).mkString("\n")}")
      if (!bnljAllow(spec.name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${spec.name} plans a BroadcastNestedLoopJoin:\n${plan.linesIterator.take(30).mkString("\n")}")
      // visible + hidden-behind-checkpoint (same count as Profile --budget,
      // so a shuffle regression UPSTREAM of a materialize() still trips
      // the pinned budget — round-9 advice #3)
      val shuffles = ops.ScalableCumulate.budgetCount(df)
      if (!shuffleBudgetExempt(spec.name)) shuffleBudget.get(spec.name) match {
        case Some(budget) =>
          assert(shuffles <= budget,
            s"${spec.name} plans $shuffles shuffle exchanges, budget is " +
              s"$budget — a shuffle regression. Fix the plan, or if the " +
              "extra shuffle is intended, regenerate " +
              "src/test/resources/shuffle_budget.tsv via graft.Profile --budget.")
        case None =>
          fail(s"${spec.name} has no shuffle budget — regenerate " +
            "src/test/resources/shuffle_budget.tsv via graft.Profile --budget")
      }
      } finally ops.ScalableCumulate.endAudit()
    }
  }

  test("shuffle budget file covers exactly the declared queries (no orphans)") {
    // round-8 verdict #2: a deleted/renamed query must not leave a stale
    // budget row behind (nor may a new query ship without one) — the tsv
    // key set must EQUAL SparkEntry.specs' names.
    val declared = SparkEntry.specs.map(_.name).toSet
    val budgeted = shuffleBudget.keySet
    val orphans = budgeted -- declared
    val missing = declared -- budgeted
    assert(orphans.isEmpty,
      s"shuffle_budget.tsv rows with no declared query: $orphans — regenerate via graft.Profile --budget")
    assert(missing.isEmpty,
      s"declared queries with no budget row: $missing — regenerate via graft.Profile --budget")
  }

  test("shuffle counter sees shuffle exchanges, not broadcasts") {
    // a hash exchange on the probe side, a single-partition exchange
    // under the build side's broadcast (which is not counted itself) and
    // a range exchange for the sort
    val build = spark.range(5).agg(max("id").as("k"))
    val df = spark.range(100).select((col("id") % 5).as("k"))
      .repartition(4, col("k"))
      .join(broadcast(build), "k")
      .orderBy("k")
    assert(ops.ScalableCumulate.shuffleCount(df.queryExecution.executedPlan) == 3)
  }

  test("plan guard: infer_score counts the same shuffles whether or not its model memo is filled") {
    // infer_mapp_argmax's construction collects the model row, filling the
    // cached model that infer_score's plan reads; the filled cache's
    // adaptive plan prints as Final and Initial Plan, and each exchange in
    // it must still count once
    def count(): Int = ops.ScalableCumulate.shuffleCount(q("infer_score").queryExecution.executedPlan)
    Memo.release(spark)
    try {
      val released = count()
      q("infer_mapp_argmax")
      assert(count() == released)
    } finally Memo.release(spark)
  }

  test("plan guard: scan_dpp keeps its DynamicPruningExpression") {
    val plan = q("scan_dpp").queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "scan_dpp lost dynamic partition pruning")
  }

  test("plan guard: text_winnowing plans no Window (per-document kernel)") {
    // the answer is one row per doc: a Window here means the token-grain
    // posexplode + doc_id shuffle + per-doc sorts came back
    val opt = q("text_winnowing").queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, s"text_winnowing plans a Window:\n$opt")
  }

  test("plan guard: join_bloom_runtime keeps its runtime bloom filter") {
    val opt = q("join_bloom_runtime").queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain") || opt.contains("BloomFilterMightContain"),
      "join_bloom_runtime lost its injected bloom filter")
  }

  test("plan allowlists name only declared queries (no dead keys)") {
    // round-9 verdict #2: an allowlist key that matches no declared query
    // is dead — its honesty-assert never runs and the exemption silently
    // rots (r9 shipped `evt_retention_cohort` for the actual
    // `evt_cohort_retention`). Same key-set discipline as the shuffle
    // budget: every exempting set must be a subset of the declared names.
    val declared = SparkEntry.specs.map(_.name).toSet
    for ((label, keys) <- Seq(
        "cartesianAllow" -> cartesianAllow,
        "bnljAllow" -> bnljAllow,
        "unpartWindowAllow" -> unpartWindowAllow.keySet)) {
      val dead = keys -- declared
      assert(dead.isEmpty, s"$label keys with no declared query: $dead")
    }
  }

  test("bench guard: the SLOW allowlist names only declared queries") {
    // keeps Bench.slowAllow honest: a renamed/removed query can't linger
    // in the allowlist, and the documented budget set stays auditable here
    val declared = SparkEntry.queries.keySet
    val stale = Bench.slowAllow -- declared
    assert(stale.isEmpty, s"SLOW allowlist entries not declared: $stale")
  }

  test("plan guard: memoized dedup consumers actually reuse the pair relation") {
    // round-7 verdict #4: a refactor that silently bypasses minhashSetPairs
    // would only surface as a bench regression — assert the plan shape
    // instead. The memo is a cached relation, so a consumer that reuses
    // it scans an InMemoryTableScan of the verified pairs; one that
    // REBUILDS would plan the banded-minhash candidate join, whose
    // xxhash64(band, token) signature then sits in a node of the
    // consumer's own plan. Cached plans are leaves of the walk (their
    // contents are the cache's, not the consumer's), so the groups
    // cache's xxhash64 token coding does not count. And no consumer's
    // construction may run a memo build.
    object Walk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    ops.LlmOps.minhashSetPairs(spark, sf).count() // ensure the memo exists
    val builds0 = ops.LlmOps.memoBuilds
    for (name <- Seq("dedup_canonical", "graph_degree_dist",
        "graph_triangle_count", "dedup_cc_labelprop")) {
      val nodes = Walk.collectWithSubqueries(
        SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan) { case p => p }
      // dedup_cc_labelprop reads the memo during construction, into the
      // label-propagation checkpoints its final plan scans
      if (name != "dedup_cc_labelprop")
        assert(nodes.exists {
          case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq("sa", "sb", "inter").forall(m.relation.output.map(_.name).contains)
          case _ => false
        }, s"$name does not scan the cached set-pair relation")
      assert(!nodes.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.XxHash64]))),
        s"$name plans the banded-minhash candidate join — memo bypassed")
    }
    assert(ops.LlmOps.memoBuilds == builds0, "a consumer rebuilt the set-pair memo")
  }

  test("plan guard: join_bucketed_colocated joins without re-shuffling either side") {
    val plan = q("join_bucketed_colocated").queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), "bucketed join no longer sort-merge")
    // bucketing must satisfy the join's distribution: the ONLY hash
    // exchange permitted is the one ABOVE the join for the groupBy —
    // neither join key may be re-partitioned
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
      "lineitem side re-shuffled despite bucketing")
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      "orders side re-shuffled despite bucketing")
  }
}
