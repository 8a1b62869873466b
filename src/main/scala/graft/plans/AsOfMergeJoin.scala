package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Native as-of join — the whole-operator extension path the north star
  * names (custom `LogicalPlan` + `SparkStrategy` + `SparkPlan`): for each
  * left row, the LATEST right row of the same key whose time is <= the
  * left time (ties broken by the ascending `rightTieBreak` columns —
  * taking the last match makes them max-tiebreaks, matching the
  * `row_number ... ORDER BY time DESC, tie DESC = 1` relational shape).
  *
  * Why a bespoke physical operator: the relational rewrite (conditional
  * join + per-left-row window top-1, see `Joins.scala` join_asof)
  * materializes EVERY (left, right-with-time<=t) pair before discarding
  * all but one — at 100 TB the intermediate explodes with per-key right
  * cardinality. This operator is a single-pass merge: each side shuffles
  * once on the key (`ClusteredDistribution`), sorts within partitions by
  * (key, time) (`requiredChildOrdering` — Catalyst inserts the Exchange +
  * Sort, AQE still applies), then one forward scan of both streams emits
  * exactly one row per matched left row. No row explosion, no window
  * state, memory O(1) per partition beyond the sort.
  *
  * Inner semantics (unmatched left rows drop), mirroring join_asof.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTieBreak: Seq[Expression]) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfMergeJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTieBreak: Seq[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  // one hash shuffle per side on the join key; EnsureRequirements
  // co-partitions the two children exactly as it does for sort-merge join
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // in-partition sort: left (key, time); right (key, time, tiebreaks) —
  // "last right row <= t" is then the window-top-1 row
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTieBreak.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
        // The sorter's iterator reuses ONE row buffer, so anything retained
        // across rIter.next() calls must be copied — but ONLY retained rows
        // are: the stop-row lookahead and candidate updates. Skipped rows
        // (null key, key < left key) are never copied, keeping the hot
        // path allocation-free on right sides dominated by unmatched keys.
        private var rHead: InternalRow = null // safe (copied) lookahead
        private var exhausted = false
        private var candidate: InternalRow = null
        private var candKey: Any = null
        private var outRow: InternalRow = null

        private def advance(): Unit = {
          while (outRow == null && lIter.hasNext) {
            val l = lIter.next()
            val lk = lKeyB.eval(l)
            val lt = lTimeB.eval(l)
            if (lk != null && lt != null) {
              var scan = true
              while (scan) {
                var r: InternalRow = rHead
                var owned = true // r already a safe copy?
                if (r == null && !exhausted) {
                  if (rIter.hasNext) { r = rIter.next(); owned = false }
                  else exhausted = true
                }
                if (r == null) scan = false
                else {
                  val rk = rKeyB.eval(r)
                  val rt = if (rk == null) null else rTimeB.eval(r)
                  val takeOrSkip =
                    rk == null || keyOrd.compare(rk, lk) < 0 ||
                      (keyOrd.compare(rk, lk) == 0 &&
                        (rt == null || timeOrd.compare(rt, lt) <= 0))
                  if (takeOrSkip) {
                    if (rk != null && rt != null && keyOrd.compare(rk, lk) == 0) {
                      candidate = if (owned) r else r.copy()
                      // re-evaluate on the safe copy: eval results (e.g.
                      // UTF8String) may point into the reused raw buffer
                      candKey = rKeyB.eval(candidate)
                    }
                    rHead = null
                  } else {
                    rHead = if (owned) r else r.copy()
                    scan = false
                  }
                }
              }
              if (candidate != null && keyOrd.compare(candKey, lk) == 0) {
                joined(l, candidate)
                outRow = resultProj(joined)
              }
            }
          }
        }

        override def hasNext: Boolean = { if (outRow == null) advance(); outRow != null }
        override def next(): InternalRow = {
          if (outRow == null) advance()
          val r = outRow; outRow = null; r
        }
      }
    }
  }
}

/** Broadcast as-of join: when the right side is dim-sized, the scale-
  * optimal plan shuffles NOTHING — the left (the 100 TB fact) is scanned
  * in place. The right side is broadcast as its own index
  * ([[AsOfIndexBroadcastMode]] — Catalyst inserts the BroadcastExchange,
  * AQE reuses it). A task finds each key's row range once; each left row
  * is then one binary search for the range's last row with time <= t
  * (ties sorted by the tie-break columns ascending, so "last" realizes the
  * max-tiebreak rule). Mirrors Spark's own BHJ-vs-SMJ selection: [[AsOfJoinStrategy]]
  * picks this exec iff right's stats fit `autoBroadcastJoinThreshold`.
  */
case class BroadcastAsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTieBreak: Seq[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  private def bindRight(e: Expression) = BindReferences.bindReference(e, right.output)

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(AsOfIndexBroadcastMode(
      bindRight(rightKey), bindRight(rightTime), rightTieBreak.map(bindRight))) :: Nil

  // left passes through untouched: its partitioning AND ordering survive
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val rKeyB = bindRight(rightKey)
    val rTimeB = bindRight(rightTime)
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val outAttrs = output
    val broadcastIndex = right.executeBroadcast[Array[InternalRow]]()

    left.execute().mapPartitions({ lIter =>
      val index = broadcastIndex.value
      // first index in [lo, hi) whose row is past `pastIt`
      def bound(lo0: Int, hi0: Int)(pastIt: InternalRow => Boolean): Int = {
        var lo = lo0; var hi = hi0
        while (lo < hi) { val mid = (lo + hi) >>> 1; if (pastIt(index(mid))) hi = mid else lo = mid + 1 }
        lo
      }
      // a key's rows are one range of `index`: searched once per task
      val ranges = new java.util.HashMap[Any, (Int, Int)]()
      def rangeOf(k: Any): (Int, Int) = {
        var r = ranges.get(k)
        if (r == null) {
          val start = bound(0, index.length)(row => keyOrd.compare(rKeyB.eval(row), k) >= 0)
          r = (start, bound(start, index.length)(row => keyOrd.compare(rKeyB.eval(row), k) > 0))
          ranges.put(InternalRow.copyValue(k), r)
        }
        r
      }
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      lIter.flatMap { l =>
        val lk = lKeyB.eval(l)
        val lt = lTimeB.eval(l)
        if (lk == null || lt == null) Iterator.empty
        else {
          // the last row of the key's range with time <= lt
          val (start, end) = rangeOf(lk)
          val at = bound(start, end)(row => timeOrd.compare(rTimeB.eval(row), lt) > 0) - 1
          if (at < start) Iterator.empty
          else Iterator.single(resultProj(joined(l, index(at))))
        }
      }
    }, preservesPartitioning = true)
  }
}

/** The right side of a [[BroadcastAsOfJoinExec]] as its broadcast value:
  * its rows without a NULL key or time, sorted by (key, time,
  * tie-breaks), so each key's rows are one time-ordered range. The
  * broadcast exchange builds it once on the driver, as Spark's
  * `HashedRelationBroadcastMode` builds its hash table, and the index
  * lives exactly as long as the broadcast. It stays an array of the
  * child's UnsafeRows, the one value besides a HashedRelation that the
  * exchange knows how to size. Expressions are bound to the right side's
  * output.
  */
case class AsOfIndexBroadcastMode(key: Expression, time: Expression, tieBreak: Seq[Expression])
    extends BroadcastMode {

  override def transform(rows: Array[InternalRow]): Array[InternalRow] =
    rows.filter(r => key.eval(r) != null && time.eval(r) != null)
      .sorted(GenerateOrdering.generate((key +: time +: tieBreak).map(SortOrder(_, Ascending))))

  override def transform(rows: Iterator[InternalRow], sizeHint: Option[Long]): Array[InternalRow] =
    transform(rows.toArray)

  override def canonicalized: BroadcastMode =
    AsOfIndexBroadcastMode(key.canonicalized, time.canonicalized, tieBreak.map(_.canonicalized))
}

/** Planner strategy for [[AsOfJoinPlan]] — the documented public seam
  * (`SparkStrategy` alias / `experimental.extraStrategies` /
  * `SparkSessionExtensions.injectPlannerStrategy`). Size-based physical
  * selection, mirroring Spark's join planning: broadcast-index exec when
  * the right side's estimated size fits `autoBroadcastJoinThreshold`
  * (zero left-side shuffle — the 100 TB fact streams in place), else the
  * co-partitioned single-pass merge.
  */
class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tb) =>
      val threshold = SQLConf.get.autoBroadcastJoinThreshold
      if (threshold >= 0 && r.stats.sizeInBytes <= threshold)
        BroadcastAsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
      else
        AsOfMergeJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Public API: `Asof.join(left, "key", "time", right, "key", "time", ...)`.
  * Columns are named (pre-project derived keys/times), so all expressions
  * are resolved attributes and the plan drops straight into the analyzer.
  */
object Asof {
  def join(left: DataFrame, leftKey: String, leftTime: String,
           right: DataFrame, rightKey: String, rightTime: String,
           rightTieBreak: Seq[String] = Nil): DataFrame = {
    val ls = left.sparkSession.asInstanceOf[classic.SparkSession]
    graft.GraftExtensions.ensure(ls)
    val lplan = left.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
    // This plan is assembled from ALREADY-ANALYZED children, so the
    // analyzer's DeduplicateRelations never sees it: a self-join would
    // carry the same ExprIds on both sides and break downstream
    // resolution. Re-aliasing the right side mints fresh ExprIds.
    val rightDedup =
      if (lplan.outputSet.intersect(
          right.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.outputSet).isEmpty)
        right
      else right.select(right.columns.toIndexedSeq.map(c =>
        org.apache.spark.sql.functions.col(c).as(c)): _*)
    val rplan = rightDedup.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"as-of join: no column '$n' on $side side"))
    val lk = attr(lplan, leftKey, "left"); val rk = attr(rplan, rightKey, "right")
    val lt = attr(lplan, leftTime, "left"); val rt = attr(rplan, rightTime, "right")
    require(lk.dataType == rk.dataType,
      s"as-of key types differ: ${lk.dataType} vs ${rk.dataType}")
    require(lt.dataType == rt.dataType,
      s"as-of time types differ: ${lt.dataType} vs ${rt.dataType}")
    org.apache.spark.sql.graftshim.DatasetShim.ofRows(ls,
      AsOfJoinPlan(lplan, rplan, lk, rk, lt, rt, rightTieBreak.map(attr(rplan, _, "right"))))
  }
}
