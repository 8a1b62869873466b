package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bucketed two-pass replacement for unpartitioned running-sum windows —
  * `win_rank_scalable`'s machinery (ops/Windows.scala) lifted into a shared
  * helper so every global-order cumulation in the repo runs partitioned.
  *
  * The hazard it retires: `Window.orderBy(x)` with no partition key plans
  * `Exchange SinglePartition` + a single-task sort of the ENTIRE input — fine
  * on a dim table, a one-executor bottleneck on any unbounded grain (order
  * values, users, vocabulary, eval vectors) at 100 TB. The two-pass shape:
  *
  *  - Pass 0 (bounded driver job): approx-percentile bounds of the primary
  *    order column split the domain into [[NB]] order-compatible buckets.
  *    Equal values never straddle a bucket (strict `<` against each bound),
  *    so bucket-local cumulation + a per-bucket offset equals the global
  *    cumulation. Bounds only shape bucket SIZES — the output depends solely
  *    on value order, so results are deterministic even though the sketch
  *    is not guaranteed to be.
  *  - Pass 1 (bounded driver job): per-(group, bucket) partial sums — at most
  *    |groups|·NB rows — collected and prefix-summed on the driver in EXACT
  *    arithmetic (Long / Integer / BigDecimal only; Double partials are
  *    rejected because float prefix-reassociation would change bits).
  *  - Pass 2 (the query's plan): broadcast the offsets back, run the window
  *    `partitionBy(group, bucket)` — NB-way (× groups) parallel, no
  *    SinglePartition exchange anywhere.
  *
  * The two driver collects are the same bounded class as the centroid-model
  * collect (InferMapPartitions.scala): O(NB·|groups|) longs/decimals, never
  * data-sized. PlanGuardSpec's unpartitioned-window guard enforces that the
  * routed queries stay on this path.
  *
  * Input materialization (round-10, the r9 bench finding): the three
  * actions above would otherwise each re-execute the INPUT's lineage —
  * and every call site feeds a derived aggregate (a value histogram, a
  * per-user rollup), so the upstream scan+aggregate ran three times per
  * execution (agg_mad, chaining two cumSum calls, ran it six times).
  * [[materialize]] localCheckpoints the input once, so the bounds job,
  * the partials collect, and the final query all read the materialized
  * relation. On a cluster, localCheckpoint stores each partition on the
  * executor that computed it — O(data/executors) transient local storage,
  * strictly cheaper than recomputing the dominant stage twice more. (The
  * blocks are not resilient to executor loss; a lost block fails the job
  * and the batch retries — the standard localCheckpoint trade. That
  * failure path is EXERCISED, not just documented: CheckpointFaultSmoke /
  * CheckpointFaultSpec hard-kill one executor of a local-cluster[2,1]
  * after materialize() and verify the consumer fails loudly with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — never silently wrong — while the
  * live lineage still recomputes correctly via ordinary task retry.)
  */
object ScalableCumulate {

  /** Default bucket fan-out. 16 ≥ local[8]/local[32] parallelism per
    * group; at a real 1000-executor deployment raise
    * `spark.graft.cumulate.buckets` (shuffle width is NB·|groups| tasks)
    * — no code edit needed, see [[buckets]].
    */
  val NB = 16

  /** Effective bucket fan-out: `spark.graft.cumulate.buckets` if set
    * (session conf, validated ≥ 1), else [[NB]]. Bucket count only shapes
    * task sizes, never results — ScalableCumulateSpec pins bit-identity
    * across NB values.
    */
  def buckets(spark: org.apache.spark.sql.SparkSession): Int = {
    val n = spark.conf.get("spark.graft.cumulate.buckets", NB.toString).toInt
    require(n >= 1, s"spark.graft.cumulate.buckets must be >= 1, got $n")
    n
  }

  /** Shuffle exchanges hidden behind this thread's [[materialize]] calls
    * since the last [[resetHiddenShuffles]] — the audit seam for the
    * checkpoint blind spot (round-9 advice): a localCheckpointed input is
    * a LogicalRDD in the final plan, so its upstream shuffles vanish from
    * the plan string. `graft.Profile --budget` and PlanGuardSpec add this
    * ledger to the visible count, keeping the pinned per-query shuffle
    * budgets honest end-to-end. Thread-local because sbt may build plans
    * concurrently. (The two bounded helper jobs — the bounds aggregate and the NB-grain
    * partials groupBy, both over the checkpointed relation — are fixed
    * O(NB·|groups|) shapes and stay outside the budget, as they were
    * before the rewrite.)
    */
  private val hiddenLedger = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Shuffle exchanges (hash / range / single-partition, not broadcast)
    * in a physical plan, each counted once: the walk enters subqueries
    * and cached relations' plans, and an adaptive plan counts its initial
    * plan whether or not it has run. (Counting lines of the printed plan
    * counted a cached relation that an earlier query had filled twice:
    * its adaptive plan prints as Final Plan and Initial Plan.) */
  def shuffleCount(plan: SparkPlan): Int = {
    def walk(p: QueryPlan[_]): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case r: ReusedExchangeExec => if (r.child.isInstanceOf[ShuffleExchangeLike]) 1 else 0
      case _ =>
        (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
          (p.children ++ p.innerChildren).map(c => walk(c.asInstanceOf[QueryPlan[_]])).sum
    }
    walk(plan)
  }

  /** A query's pinned shuffle budget count: the exchanges of its
    * executed plan plus [[hiddenShuffles]], read in the audit window it
    * was built in. `graft.Profile --budget` writes it and PlanGuardSpec
    * enforces it. */
  def budgetCount(df: DataFrame): Int =
    shuffleCount(df.queryExecution.executedPlan) + hiddenShuffles

  /** Observability seam for ScaleSpec (round-11 verdict #6): row count of
    * the most recent quantilePicks partials collect on this JVM. The
    * 100 TB argument for the pick machinery is that the driver collect is
    * O(NB·|groups|) — independent of input rows — and this counter lets a
    * test MEASURE that (flat at 1× vs 10× data; bytes = rows × fixed
    * schema width). Diagnostic only: never read by query logic. The
    * contract is also ENFORCED: the collect fails loudly past
    * `spark.graft.cumulate.maxPartials` (default 1M rows) instead of
    * OOMing the driver on a data-sized group key — see the guard at the
    * collect site and ScalableCumulateSpec's high-cardinality test.
    */
  @volatile private[graft] var lastPartialsRows: Int = -1

  /** Thread that currently owns an open audit window (null = no audit
    * active). The ledger is thread-local, so an audited plan built on a
    * DIFFERENT thread than the `resetHiddenShuffles()` caller would
    * silently under-count the budget (round-10 advice): this global
    * canary turns that into a loud failure — [[record]] throws when a
    * write lands off the auditor's thread while a window is open, and
    * [[hiddenShuffles]] refuses to be read off the auditor's thread.
    * `sbt test` runs suites sequentially in one forked JVM, so a
    * cross-thread write during a window is genuinely anomalous, never a
    * legitimate concurrent build; auditors close their window with
    * [[endAudit]] (PlanGuardSpec in a per-test finally, `Profile --budget`
    * after its sweep) so unaudited construction elsewhere is never
    * policed.
    */
  private val auditor =
    new java.util.concurrent.atomic.AtomicReference[Thread](null)

  def resetHiddenShuffles(): Unit = {
    hiddenLedger.set(0)
    auditor.set(Thread.currentThread())
  }

  /** Close the audit window opened by [[resetHiddenShuffles]]. */
  def endAudit(): Unit = auditor.set(null)

  def hiddenShuffles: Int = {
    val a = auditor.get
    require(a eq Thread.currentThread(),
      "ScalableCumulate.hiddenShuffles read on a thread that did not call " +
        "resetHiddenShuffles — the thread-local ledger would silently " +
        "under-count; reset, build the plan, and read on ONE thread")
    hiddenLedger.get
  }

  /** Single write seam for the ledger: adds `n` to this thread's count
    * and fails loudly if an audit window is open on a different thread
    * (that write belongs to the audited plan but would land in a ledger
    * the auditor never reads).
    */
  private def record(n: Int): Unit = {
    val a = auditor.get
    if ((a ne null) && (a ne Thread.currentThread()))
      throw new IllegalStateException(
        s"ScalableCumulate ledger write on thread " +
          s"'${Thread.currentThread().getName}' while an audit window is " +
          s"open on thread '${a.getName}' — the audited plan was built on " +
          "a different thread than resetHiddenShuffles, so the pinned " +
          "shuffle budget would under-count; build the plan on the " +
          "auditing thread")
    hiddenLedger.set(hiddenLedger.get + n)
  }

  /** Record `df`'s plan's shuffle exchanges in the hidden ledger and
    * return it unchanged — for an EAGER helper job whose plan never
    * reaches the returned query (a bounds aggregate, a partials collect,
    * a driver-collected pick), so the pinned budget still charges it.
    */
  def audited(df: DataFrame): DataFrame = {
    record(shuffleCount(df.queryExecution.executedPlan))
    df
  }

  /** `df` re-rooted into the helper session, where the eager helper
    * collects run: a [[graft.GraftSession.child]] of `df`'s session with
    * adaptive execution off and shuffle width 1. Never used for a
    * returned query plan, so callers keep AQE and their own width on the
    * plan that does real work.
    *
    * The helper jobs are fixed O(NB·|groups|) driver-collect shapes. AQE
    * cannot improve them (nothing to re-plan at that size), but it
    * executes each of their stages as a separate Spark job, and at
    * fixture scale the per-job driver overhead dominates the work itself
    * (round-11 measurement: agg_mad ran 18-20 jobs for five logical
    * actions, with more wall time between jobs than in them). Their
    * reduce side holds O(NB·|groups|) rows (≤ maxPartials, enforced)
    * bound for the driver, so spreading it over the session's full
    * shuffle width only pays ~cores task dispatches (round 16, guide §2.2
    * "fewer, larger reduce partitions" taken to its bounded limit); the
    * map side keeps its input-split parallelism.
    *
    * Caveat — merge fan-in: only the POST-merge output is driver-bounded.
    * The one reduce task still merges every map task's partials,
    * O(numMapTasks × NB × |groups|) rows, and that count grows with the
    * number of input splits; at many splits the merge serializes onto one
    * task. Perf only, results unaffected; a small constant width (e.g.
    * min(cores, 8)) in this recipe would spread it if it ever shows.
    */
  private[ops] def inHelper(df: DataFrame): DataFrame = {
    val helper = graft.GraftSession.child(df.sparkSession, "helper",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1")
    graft.GraftSession.reroot(helper, df)
  }

  /** Materialize `df` once via eager localCheckpoint, recording its
    * upstream shuffle count in the hidden ledger first. No-op when the
    * plan is already a materialized LogicalRDD (so a call site may
    * materialize a histogram itself, reuse it, and feed it to [[cumSum]]
    * without a second copy). Refuses an input whose lineage plans an
    * unpartitioned Window: checkpointing would hide exactly the
    * single-task-sort hazard this helper exists to retire, so that is a
    * bug at the call site, not a plan to bless.
    */
  def materialize(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ =>
        val qe = df.queryExecution
        val unpart = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        require(unpart.isEmpty,
          "ScalableCumulate.materialize: input lineage plans an " +
            "unpartitioned Window — checkpointing would hide a " +
            "single-task global sort from the plan guard; route that " +
            "cumulation through ScalableCumulate instead")
        record(shuffleCount(qe.executedPlan))
        df.localCheckpoint()
    }

  /** One cumulative sum to compute: output column `name` = running sum of
    * `value` over the global order (within the group, if grouped).
    */
  final case class Cum(name: String, value: Column)

  /** Inner join of `left` with the BROADCAST `right` on `keys`, null-safe
    * (`<=>`) so NULL keys match like the using-columns form never would,
    * keeping left's copy of each key column. Right is always one of the
    * tiny driver-built aux/offset relations, so the broadcast hash join
    * survives the null-safe predicate unchanged.
    */
  private def nullSafeJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame = {
    val cond = keys.map(k => left(k) <=> right(k)).reduce(_ && _)
    keys.foldLeft(left.join(broadcast(right), cond))((d, k) => d.drop(right(k)))
  }

  /** True when re-executing `df`'s plan is as cheap as re-reading its
    * source: only projections and filters over a leaf relation (file scan,
    * LogicalRDD, LocalRelation) — the shapes where predicate/column
    * pushdown makes each re-scan touch only the needed bytes — or a
    * persist()ed relation at ANY lineage shape (round-11): re-execution
    * hits the block cache, and the FIRST consumer job doubles as the
    * cache fill, which is exactly how agg_abc_class folds its input
    * materialization into the bounds job instead of paying a separate
    * checkpoint action. Anything else (an uncached join, aggregate,
    * window, generate, union…) does real work per execution and must be
    * materialized before a multi-action consumer.
    */
  private def cheapRescan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
    df.queryExecution.optimizedPlan.collectFirst {
      case p if !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] &&
        !p.isInstanceOf[LeafNode] => p
    }.isEmpty
  }

  private def zero(dt: DataType): Any = dt match {
    case LongType       => java.lang.Long.valueOf(0L)
    case IntegerType    => Integer.valueOf(0)
    case _: DecimalType => java.math.BigDecimal.ZERO
    case other => throw new IllegalArgumentException(
      s"ScalableCumulate requires exact partial-sum types (long/int/decimal); got $other")
  }

  private def plus(a: Any, b: Any): Any = (a, b) match {
    case (x, null) => x
    case (null, x) => x
    case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.valueOf(x + y)
    case (x: Integer, y: Integer)               => Integer.valueOf(x + y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    case (x, y) => throw new IllegalArgumentException(
      s"non-exact or mismatched partials: ${x.getClass} + ${y.getClass}")
  }

  /** Core rewrite. Returns `df` plus, for each [[Cum]], its global running
    * sum over `orderCols` (ROWS UNBOUNDED PRECEDING..CURRENT ROW, within
    * `groupCols` if given) and, for each entry in `totals` (cum name →
    * total column name), the group-wide grand total — all WITHOUT an
    * unpartitioned window. The transient `__bkt` column is dropped.
    *
    * `primary` must be the leading order column (numeric; cast to double
    * only for bucket ASSIGNMENT — double cast is monotone, and ties map to
    * the same bucket, so ordering is never violated). `ascending` must match
    * the sort direction of `primary` inside `orderCols`. Inputs are assumed
    * non-null in `primary` (every call site cumulates over non-null keys).
    */
  def cumSum(
      df: DataFrame,
      primary: Column,
      ascending: Boolean,
      orderCols: Seq[Column],
      cums: Seq[Cum],
      groupCols: Seq[String] = Nil,
      totals: Map[String, String] = Map.empty): DataFrame =
    core(df, primary, ascending, orderCols, cums, groupCols, totals)._1

  /** Global row number (1-based, ungrouped) over `orderCols`, plus the total
    * row count (driver-side, free — it is the last prefix offset). The
    * scalable form of `row_number().over(Window.orderBy(...))`; feed the
    * count to [[ntileOf]] / cume-dist picks.
    */
  def rowNumber(
      df: DataFrame,
      primary: Column,
      ascending: Boolean,
      orderCols: Seq[Column],
      out: String): (DataFrame, Long) = {
    val (res, tot) = core(df, primary, ascending, orderCols,
      Seq(Cum(out, lit(1L))), Nil, Map.empty)
    val n = tot.getOrElse(Seq.empty, Map.empty)
      .getOrElse(out, java.lang.Long.valueOf(0L))
      .asInstanceOf[java.lang.Long].longValue()
    (res, n)
  }

  /** Exact integer division of a non-negative long column by a positive
    * driver-side constant: the dividend is reduced to an exact multiple
    * first, so the double division is exact whenever the QUOTIENT is (here
    * quotients are ≤ the ntile count — tiny).
    */
  private def idiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast(LongType)

  /** SQL `ntile(k)` computed from a 1-based global row number and the total
    * row count: the first `n % k` tiles get `n/k + 1` rows, the rest `n/k`
    * — the standard-SQL split Spark and DuckDB both implement. LongType
    * output; cast at the call site to match the declared schema.
    */
  def ntileOf(rn: Column, n: Long, k: Int): Column = {
    val q = n / k
    val r = n % k
    if (q == 0) rn.cast(LongType) // fewer rows than tiles: row i is tile i
    else
      when(rn <= lit((q + 1) * r), idiv(rn - 1, q + 1) + 1)
        .otherwise(lit(r) + idiv(rn - 1 - lit((q + 1) * r), q) + 1)
  }

  /** Bucket id of every non-positive value under [[log2Bucket]]: below
    * floor(64·log₂ x) of the smallest positive double (−68736), and far
    * from Long overflow when a caller negates it.
    */
  val NonPositiveBucket: Long = -(1L << 20)

  /** Log-octave `bucketHint` for [[quantilePicks]]: floor(64·log₂ x), so
    * 1/64-octave value bands with no prior knowledge of the range. Total
    * on non-null input — every non-positive value shares the single
    * bucket [[NonPositiveBucket]], below every positive bucket — so the
    * id stays monotone non-decreasing in x; NULL stays NULL. For a
    * descending scan pass the negation.
    */
  def log2Bucket(x: Column): Column = {
    val v = x.cast(DoubleType)
    when(v > 0, floor(log(2.0, v) * 64))
      .when(v.isNotNull, lit(NonPositiveBucket))
  }

  /** Exact order-statistic picks — the pick-query fast path (round-10).
    *
    * [[cumSum]] answers "running sum on EVERY row", which forces the full
    * relation through a window; median/p95-style queries only need "the
    * first `primary` value (ascending) whose cumulative `value` sum
    * crosses num/den of the total". That needs no checkpoint and no
    * data-sized shuffle at all:
    *
    *  - Job 1 (bounds): approx-percentile bucket bounds of `primary` over
    *    the RAW input + the NaN/null guard. No groupBy, no shuffle of
    *    data.
    *  - Job 2 (partials): per-(group, bucket) `sum(value)` — map-side
    *    combine straight to NB·|groups| rows, collected and prefix-summed
    *    on the driver in exact arithmetic. The crossing bucket b* per
    *    (group, frac) — the first b with den·(off(b)+s(b)) ≥ num·W — is
    *    then DRIVER-known, and s(b*) > 0 by construction.
    *  - Job 3 (the returned plan): inner-join a broadcast aux relation of
    *    the needed (group, bucket, offset, W) rows — filtering the scan
    *    to the crossing buckets (~1/NB of rows) — cumulate within them,
    *    and pick `min(primary)` where den·(off+cum) ≥ num·W. Exact long /
    *    decimal comparisons end-to-end; the approx bounds only decide
    *    bucket SIZES, never the result.
    *
    * Ties in `primary` always share a bucket (the bucket id is a pure
    * function of the value), and the pick is the first value at which
    * ANY row qualifies — so the result equals the histogram pick
    * regardless of how tie rows are ordered within the bucket window.
    *
    * At 100 TB: two full scans + one 1/NB-filtered scan (the bucket
    * range-filter on `primary` is min/max-prunable at the parquet
    * row-group level), with only O(NB·|groups|) rows ever moved —
    * strictly cheaper than materializing a near-unique value histogram.
    *
    * `fracs` are (num, den) with 0 < num ≤ den; the crossing condition
    * is den·cum ≥ num·total, or strictly `>` with `strict = true` (the
    * boundary convention of cumulative-share banding: "first row OVER
    * the 80% line"). `value` must be non-null (enforced: the partials
    * job counts null `value` rows and fails) AND non-negative with an
    * exact partial type (long / int / decimal) — the bucket-level
    * crossing search needs a monotone cumulative. `ascending = false`
    * orders buckets by descending `primary` (pass matching `orderCols`).
    *
    * `metrics` are extra (name → column) sums reported AT the pick row
    * (inclusive): the returned row carries, per frac `i`, `pick_i` (the
    * `primary` value), `cum_i` (the inclusive `value` cumulative), and
    * `<name>_i` per metric, plus `<name>_total` grand totals and
    * `totalName`. The pick row is identified by an internal row-number
    * cumulation, so zero-`value` runs cannot smear the selection; when
    * metrics are requested, `orderCols` must be a TOTAL order (else the
    * metric cums at a tied boundary are order-dependent).
    *
    * Returns one row per group. The eager bounds and partials jobs
    * register their shuffles in the hidden ledger, so the pinned budgets
    * stay honest.
    *
    * `boundsHint` (round-11): caller-supplied bucket split points that
    * SKIP the bounds job entirely — one fewer sequential Spark action.
    * Bounds only ever shape bucket SIZES (the crossing search and the
    * final window are exact over whatever buckets exist), so ANY finite
    * values are correct; badly placed ones merely unbalance the final
    * filtered scan. Callers use it when split points are derivable from
    * work already done — agg_mad folds the first pick's bounds around
    * the median for the deviation pick. The NaN/null primary guard that
    * the bounds job carried moves into the partials job (checked before
    * any partial sum is trusted), so hinted calls stay exactly as loud.
    *
    * `bucketHint` (round-11, generalizes boundsHint): a caller-supplied
    * INTEGER bucket-id expression, monotone non-decreasing in `primary`
    * along the scan direction (so anti-monotone in the raw value when
    * `ascending = false`) and never null on non-null input. Lets a call
    * site bucket with arithmetic instead of a split-point fold — e.g.
    * the negated [[log2Bucket]] of `rev` gives 1/64-octave value bands
    * with NO prior knowledge of the range and no bounds job. Equal values
    * always share a bucket (the id is a pure function of the value), so
    * the tie argument above is untouched; a distribution concentrated
    * inside one 2^(1/64) ratio band degenerates to one bucket — the
    * same near-all-ties case the percentile bounds already accept. The
    * partials pass carries the NaN/null guard exactly as for
    * boundsHint. Mutually exclusive with boundsHint.
    */
  def quantilePicks(
      df: DataFrame,
      primary: Column,
      orderCols: Seq[Column],
      value: Column,
      fracs: Seq[(Long, Long)],
      groupCols: Seq[String] = Nil,
      totalName: String = "total",
      ascending: Boolean = true,
      strict: Boolean = false,
      metrics: Seq[(String, Column)] = Nil,
      boundsHint: Option[Seq[Double]] = None,
      bucketHint: Option[Column] = None): DataFrame = {
    require(fracs.nonEmpty && fracs.forall { case (n, d) => n > 0 && n <= d },
      s"fracs must satisfy 0 < num <= den, got $fracs")
    // strict + num == den is vacuous ("first row strictly over 100% of the
    // total" — no row ever crosses since cum ≤ W): the driver search would
    // fall back to the last bucket while Job 3's aggregate returns NULL
    // picks, two different answers for one input (round-10 advice #1).
    // Reject it loudly instead of picking one arbitrarily.
    require(!strict || fracs.forall { case (n, d) => n < d },
      s"strict=true requires num < den (num == den can never cross " +
        s"strictly — cum <= total); got $fracs")
    val spark = df.sparkSession
    val nbv = buckets(spark)

    // Derived-input guard (round-10 verdict): the three jobs below (bounds,
    // partials, the returned plan) each re-execute the input's lineage.
    // A bare scan — optionally column-pruned / filtered — is cheap to
    // re-read (pushdown reaches the files all three times); anything with
    // a join/aggregate/window upstream would silently run that work three
    // times per execution (the exact r9 bench-regression class), so it is
    // checkpointed once here. No-op for the existing call sites (bare
    // projections or already-materialized inputs).
    val in = if (cheapRescan(df)) df else materialize(df)
    val pd = primary.cast(DoubleType)

    // Job 1: bounds + NaN/null guard (accuracy 1000: bounds only shape
    // bucket sizes, so a cheaper sketch costs nothing in exactness).
    // Skipped entirely under a bounds/bucket hint — the guard then rides
    // the partials job instead (see __bad below).
    require(boundsHint.isEmpty || bucketHint.isEmpty,
      "quantilePicks: boundsHint and bucketHint are mutually exclusive")
    require(boundsHint.forall(_.forall(b => !b.isNaN && !b.isInfinite)),
      s"quantilePicks: boundsHint must be finite, got $boundsHint")
    val hinted = boundsHint.isDefined || bucketHint.isDefined
    // Bucket ids stay LONG end-to-end (round-11 advice #1): a cast to
    // IntegerType under non-ANSI semantics silently WRAPS a hint
    // expression whose ids exceed Int range, breaking the documented
    // monotone-bucket contract with no loud failure — and the wrap
    // happens executor-side BEFORE grouping, so no driver-side range
    // check on collected ids could catch it. LongType makes the wrap
    // impossible for any practical hint (a Long-overflowing bucket
    // arithmetic would first overflow in the caller's own expression);
    // the unhinted fold produces 0..NB ints, losslessly widened.
    val bkt = bucketHint.map(_.cast(LongType)).getOrElse {
      val bounds: Seq[Double] = boundsHint.getOrElse {
        val qs = (1 until nbv).map(i => i.toDouble / nbv)
        val qsSafe = if (qs.isEmpty) Seq(0.5) else qs
        val boundsRow = audited(inHelper(in.agg(
          percentile_approx(pd, array(qsSafe.map(lit): _*), lit(1000)).as("b"),
          count(when(pd.isNull || isnan(pd), 1)).as("bad")))).head()
        require(boundsRow.getLong(1) == 0L,
          s"quantilePicks: ${boundsRow.getLong(1)} NaN/null primary keys")
        if (qs.isEmpty || boundsRow.isNullAt(0)) Seq.empty
        else boundsRow.getSeq[Double](0)
      }
      bounds.foldLeft(lit(0L)) { (acc, b) =>
        if (ascending) acc + when(lit(b) < pd, 1).otherwise(0)
        else acc + when(pd < lit(b), 1).otherwise(0)
      }
    }

    // Job 2: per-(group, bucket) partials (value + row count + metrics) →
    // driver prefix + crossing bucket per (group, frac), exact arithmetic.
    val withB = in.withColumn("__bkt", bkt)
    val keyCols = groupCols.map(col) :+ col("__bkt")
    val mNames = metrics.map(_._1)
    // Under a bounds/bucket hint the bounds job (and its guard) never
    // ran: count NaN/null primaries here — they'd land in bucket 0 via
    // the when() fold (or a null bucket under bucketHint) — and fail
    // loudly BEFORE any partial sum is used. Null `value` rows are
    // counted on every call: `sum` would skip them, silently dropping
    // their weight from the cumulative and the total (e.g. a weight that
    // overflows its decimal cast in a non-ANSI session). Both guards are
    // appended last so every positional index below is hint-independent.
    val partAggs = (sum(value).as("__s") +: count(lit(1)).as("__n") +:
      metrics.map { case (n, c) => sum(c).as(s"__sm_$n") }) ++
      (if (hinted)
         Seq(count(when(pd.isNull || isnan(pd), 1)).as("__bad"))
       else Nil) :+
      count(when(value.isNull, 1)).as("__nullv")
    val part = withB.groupBy(keyCols: _*).agg(partAggs.head, partAggs.tail: _*)
    val partSchema = part.schema
    val ng = groupCols.size
    zero(partSchema("__s").dataType) // reject non-exact partial types
    mNames.foreach(n => zero(partSchema(s"__sm_$n").dataType))
    val partRows = audited(inHelper(part)).collect()
    lastPartialsRows = partRows.length
    // Hard cap on the driver collect (round 15; r14 verdict #2): the
    // 100 TB argument is "O(NB·|groups|) rows, independent of input
    // size" — true for every current caller, but nothing else stops a
    // future caller from passing a high-cardinality group key and
    // turning this collect into a silent driver OOM. Generous default
    // (1M rows ≈ tens of MB of partials), conf-overridable; misuse now
    // fails with a named error instead of an executor-sized heap dump.
    val maxPart = spark.conf
      .get("spark.graft.cumulate.maxPartials", "1000000").toLong
    require(partRows.length <= maxPart,
      s"quantilePicks: partials collect returned ${partRows.length} rows " +
        s"(> spark.graft.cumulate.maxPartials=$maxPart) — the group key " +
        "is too high-cardinality for a driver-side pick; cumulate at a " +
        "coarser grain or raise the conf if the driver truly has the heap")
    val nullV = partRows.map(_.getLong(partSchema.fieldIndex("__nullv"))).sum
    require(nullV == 0L, s"quantilePicks: $nullV null `value` rows — " +
      "value must be non-null (a null weight would be silently skipped)")
    if (hinted) {
      val bad = partRows.map(_.getLong(partSchema.fieldIndex("__bad"))).sum
      require(bad == 0L, s"quantilePicks: $bad NaN/null primary keys")
      // a null bucket id (a bucketHint expression that nulls on non-null
      // input) would crash the Long bucket-id read below (getLong on a
      // null cell, post the round-12 Int→Long widening) with a
      // misleading error — name it
      require(partRows.forall(!_.isNullAt(ng)),
        "quantilePicks: bucketHint produced a NULL bucket id on non-null " +
          "primary input — the hint expression must be total")
    }
    val byGroup: Map[Seq[Any], Array[Row]] =
      partRows.groupBy(r => (0 until ng).map(r.get).toSeq)

    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
      case (x: Integer, y: Integer)               => x.compareTo(y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
        x.compareTo(y)
      case _ => throw new IllegalStateException("mismatched partials")
    }
    def times(a: Any, k: Long): Any = a match {
      case x: java.lang.Long => java.lang.Long.valueOf(Math.multiplyExact(x, k))
      case x: Integer        => java.lang.Long.valueOf(Math.multiplyExact(x.longValue(), k))
      case x: java.math.BigDecimal =>
        x.multiply(java.math.BigDecimal.valueOf(k))
      case _ => throw new IllegalStateException("non-exact partial")
    }
    // crossing: >= target, or strictly > when `strict`
    def crosses(cum: Any, target: Any): Boolean =
      if (strict) cmp(cum, target) > 0 else cmp(cum, target) >= 0
    // Magnitude guard (round-10 advice #2): Job 3 re-evaluates den·cum and
    // num·W on EXECUTORS in unchecked arithmetic — non-ANSI Long multiply
    // wraps silently and decimal(38,s)·long overflows to NULL — while the
    // driver side uses multiplyExact/BigDecimal. Worse, the driver's find()
    // short-circuits at the first crossing bucket, so a bucket emitted into
    // aux for a LATER frac evaluates earlier fracs' products only in Spark.
    // Validate here, in exact driver arithmetic, the extreme magnitude every
    // executor-side product can reach (cum ≤ off+s within an aux bucket,
    // monotone since value ≥ 0): an overflowing call site fails loudly
    // instead of returning a wrong or NULL pick.
    def checkMag(a: Any, k: Long): Unit = a match {
      case null => ()
      case x: java.lang.Long =>
        try { Math.multiplyExact(x.longValue(), k); () }
        catch {
          case _: ArithmeticException => throw new IllegalArgumentException(
            s"quantilePicks: $x * $k overflows Long — the executor-side " +
              "crossing comparison would wrap silently; cast `value` to a " +
              "decimal column")
        }
      case x: Integer => checkMag(java.lang.Long.valueOf(x.longValue()), k)
      case x: java.math.BigDecimal =>
        val p = x.multiply(java.math.BigDecimal.valueOf(k)).precision
        require(p <= 38,
          s"quantilePicks: $x * $k needs $p digits > decimal(38) — the " +
            "executor-side crossing comparison would overflow to NULL; " +
            "reduce the value column's scale")
      case _ => ()
    }

    // aux rows: (group..., bkt, off, rnoff, moffs..., W, mtots...,
    //            need_0..need_{k-1})
    val sDt = partSchema("__s").dataType
    val mDts = mNames.map(n => partSchema(s"__sm_$n").dataType)
    val auxRows = mutable.ArrayBuffer.empty[Row]
    for ((gkey, grs) <- byGroup) {
      val sorted = grs.sortBy(_.getLong(ng))
      val zeroV = zero(sDt)
      // a bucket whose values are all null sums to null — treat as zero
      // contribution, matching SQL sum semantics in the prefix fold
      def series(colIdx: Int, z: Any) = {
        val s = sorted.map(r => Option(r.get(colIdx)).getOrElse(z))
        (s, s.scanLeft(z)(plus).init, s.foldLeft(z)(plus))
      }
      val (sums, offs, w) = series(ng + 1, zeroV)
      val (_, rnOffs, _) = series(ng + 2, java.lang.Long.valueOf(0L))
      val mSeries = mNames.indices.map(m =>
        series(ng + 3 + m, zero(mDts(m))))
      val crossing: Seq[Int] = fracs.map { case (num, den) =>
        val target = times(w, num)
        val idx = sorted.indices.find(i =>
          crosses(times(plus(offs(i), sums(i)), den), target))
        idx.getOrElse(sorted.length - 1)
      }
      for (i <- sorted.indices if crossing.contains(i); (num, den) <- fracs) {
        checkMag(plus(offs(i), sums(i)), den) // max den·cum in this bucket
        checkMag(w, num)                      // num·W, evaluated per row
      }
      for (i <- sorted.indices if crossing.contains(i))
        auxRows += Row.fromSeq(gkey ++
          Seq(sorted(i).getLong(ng), offs(i), rnOffs(i)) ++
          mSeries.map(_._2(i)) ++ Seq(w) ++ mSeries.map(_._3) ++
          fracs.indices.map(f => crossing(f) == i))
    }
    val auxSchema = StructType(
      groupCols.map(g => partSchema(g)) ++
        Seq(StructField("__bkt", LongType, nullable = false),
          StructField("__off", sDt),
          StructField("__rnoff", LongType, nullable = false)) ++
        mNames.zip(mDts).map { case (n, dt) => StructField(s"__moff_$n", dt) } ++
        Seq(StructField("__W", sDt)) ++
        mNames.zip(mDts).map { case (n, dt) => StructField(s"${n}_total", dt) } ++
        fracs.indices.map(f =>
          StructField(s"__need_$f", BooleanType, nullable = false)))
    val auxDf = spark.createDataFrame(
      java.util.Arrays.asList(auxRows.toSeq: _*), auxSchema)

    // Job 3 (returned): crossing-bucket-only window; the first qualifying
    // row per frac is selected as the MIN of a struct led by the strictly
    // increasing row-number cumulation (unique → deterministic even
    // through zero-`value` runs), carrying the pick value and every
    // requested cumulative along in one aggregate.
    val w = Window
      .partitionBy((groupCols :+ "__bkt").map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Null-safe equi-join (round-10 advice #3): a plain using-columns join
    // drops a NULL group key — the partials groupBy retains the null group
    // and an aux row is built for it, but EqualTo never matches nulls, so
    // that group would silently vanish from the output. <=> keeps it, and
    // the tiny broadcast side still hash-joins.
    val joined = nullSafeJoin(withB, auxDf, groupCols :+ "__bkt")
      .withColumn("__cum", sum(value).over(w) + col("__off"))
      .withColumn("__rn", sum(lit(1L)).over(w) + col("__rnoff"))
    val withM = metrics.foldLeft(joined) { case (d, (n, c)) =>
      d.withColumn(s"__mc_$n", sum(c).over(w) + col(s"__moff_$n"))
    }
    val selStruct = struct(
      (col("__rn").as("r") +: primary.as("p") +: col("__cum").as("c") +:
        mNames.map(n => col(s"__mc_$n").as(n))): _*)
    val pickAggs = fracs.zipWithIndex.map { case ((num, den), f) =>
      val cond =
        if (strict) col("__cum") * lit(den) > col("__W") * lit(num)
        else col("__cum") * lit(den) >= col("__W") * lit(num)
      min(when(col(s"__need_$f") && cond, selStruct)).as(s"__sel_$f")
    }
    val grouped = withM
      .groupBy(((groupCols :+ "__W") ++ mNames.map(n => s"${n}_total"))
        .map(col): _*)
      .agg(pickAggs.head, pickAggs.tail: _*)
    grouped.select((groupCols.map(col) ++
      fracs.indices.flatMap(f =>
        col(s"__sel_$f.p").as(s"pick_$f") +:
          col(s"__sel_$f.c").as(s"cum_$f") +:
          mNames.map(n => col(s"__sel_$f.$n").as(s"${n}_$f"))) ++
      mNames.map(n => col(s"${n}_total")) :+
      col("__W").as(totalName)): _*)
  }

  private def core(
      df: DataFrame,
      primary: Column,
      ascending: Boolean,
      orderCols: Seq[Column],
      cums: Seq[Cum],
      groupCols: Seq[String],
      totals: Map[String, String])
      : (DataFrame, Map[Seq[Any], Map[String, Any]]) = {
    val spark = df.sparkSession
    val pd = primary.cast(DoubleType)
    val in = materialize(df)

    // Pass 0: percentile bounds of the primary order key. Duplicate bounds
    // (low-cardinality keys) just yield empty buckets — harmless. The same
    // job counts NaN/null primaries: `lit(b) < pd` is false for NaN and
    // null for null, so such rows would silently land in bucket 0 while
    // sorting LAST ascending — misranked. Every call site cumulates over
    // non-null keys, so this fails loudly instead of quietly misplacing.
    val nbv = buckets(spark)
    val qs = (1 until nbv).map(i => i.toDouble / nbv)
    // nbv == 1 degenerates to a single bucket (no bounds needed); feed the
    // aggregate a placeholder percentile so the NaN check still runs.
    val qsSafe = if (qs.isEmpty) Seq(0.5) else qs
    // accuracy 1000: bounds only shape bucket SIZES (results depend solely
    // on value order — ScalableCumulateSpec pins bit-identity across
    // bucket layouts), so the cheaper sketch is free
    val boundsRow = inHelper(in.agg(
      percentile_approx(pd, array(qsSafe.map(lit): _*), lit(1000)).as("b"),
      count(when(pd.isNull || isnan(pd), 1)).as("bad"))).head()
    require(boundsRow.getLong(1) == 0L,
      s"ScalableCumulate: ${boundsRow.getLong(1)} NaN/null primary order " +
        "keys — bucket assignment cannot rank them; filter or impute " +
        "upstream")
    val bounds: Seq[Double] =
      if (qs.isEmpty || boundsRow.isNullAt(0)) Seq.empty
      else boundsRow.getSeq[Double](0)
    val bkt = bounds.foldLeft(lit(0)) { (acc, b) =>
      if (ascending) acc + when(lit(b) < pd, 1).otherwise(0)
      else acc + when(pd < lit(b), 1).otherwise(0)
    }
    val withB = in.withColumn("__bkt", bkt)

    // Pass 1: per-(group, bucket) exact partials → driver prefix sums.
    val aggExprs = cums.map(c => sum(c.value).as(c.name))
    val keyCols = groupCols.map(col) :+ col("__bkt")
    val part = withB.groupBy(keyCols: _*).agg(aggExprs.head, aggExprs.tail: _*)
    val partSchema = part.schema
    val ng = groupCols.size
    val cumTypes = cums.map(c => partSchema(c.name).dataType)
    cumTypes.foreach(zero) // reject non-exact partial types up front

    val byGroup: Map[Seq[Any], Array[Row]] =
      inHelper(part).collect()
        .groupBy(r => (0 until ng).map(r.get).toSeq)
    val offRows = mutable.ArrayBuffer.empty[Row]
    val grandTotals = mutable.Map.empty[Seq[Any], Map[String, Any]]
    for ((gkey, grs) <- byGroup) {
      val sorted = grs.sortBy(_.getInt(ng))
      var running: Seq[Any] = cumTypes.map(zero)
      val pending = mutable.ArrayBuffer.empty[(Int, Seq[Any])]
      for (r <- sorted) {
        pending += ((r.getInt(ng), running))
        running = cums.indices.map(i => plus(running(i), r.get(ng + 1 + i)))
      }
      grandTotals(gkey) =
        cums.indices.map(i => cums(i).name -> running(i)).toMap
      for ((b, offs) <- pending)
        offRows += Row.fromSeq(gkey ++ Seq(b) ++ offs ++
          cums.indices.collect {
            case i if totals.contains(cums(i).name) => running(i)
          })
    }

    val offSchema = StructType(
      groupCols.map(g => partSchema(g)) ++
        Seq(StructField("__bkt", IntegerType, nullable = false)) ++
        cums.map(c =>
          StructField("__off_" + c.name, partSchema(c.name).dataType)) ++
        cums.collect {
          case c if totals.contains(c.name) =>
            StructField(totals(c.name), partSchema(c.name).dataType)
        })
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offRows.toSeq: _*), offSchema)

    // Pass 2: broadcast offsets, partitioned window, exact offset add.
    val w = Window
      .partitionBy((groupCols :+ "__bkt").map(col): _*)
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe on the group keys — see the Job-3 comment in quantilePicks
    var out = nullSafeJoin(withB, offDf, groupCols :+ "__bkt")
    for (c <- cums)
      out = out.withColumn(c.name, sum(c.value).over(w) + col("__off_" + c.name))
    (out.drop(cums.map("__off_" + _.name): _*).drop("__bkt"), grandTotals.toMap)
  }
}
