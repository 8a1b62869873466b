package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Divide, EqualNullSafe, EqualTo, Explode, Expression, Floor, GreaterThan, GreaterThanOrEqual, Greatest, LessThan, LessThanOrEqual, Literal, PredicateHelper, Sequence}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Optimizer rule (`Rule[LogicalPlan]`, the `injectOptimizerRule` seam):
  * rewrites a pure range join — an inner join whose only cross-side
  * predicates are interval bounds `p >= lo AND p < hi` — into a binned
  * equi-join.
  *
  * Why: without an equality conjunct Spark can only plan a nested-loop
  * join (broadcast or cartesian), which is O(|points| * |intervals|) work
  * per partition — the classic scale cliff once the interval side outgrows
  * trivial size. The standard fix (used by every range-join-capable
  * engine) is binning: overlay a fixed grid of width `w`, tag each point
  * with its bin `floor(p/w)`, explode each interval into the bins it
  * overlaps `[floor(lo/w) .. floor(hi/w)]`, equi-join on the bin (hash
  * shuffle, AQE-planned, skew-splittable), and re-apply the exact
  * predicate as a residual filter. `join_range_binned` (Joins.scala)
  * declares that shape by hand; this rule derives it automatically from
  * the plain theta-join text, so users write the natural query and still
  * get the scale-safe plan.
  *
  * Correctness: `floor(x/w)` is monotone (division by a positive double
  * and floor both preserve order), so `lo <= p (<|<=) hi` implies
  * `bin(lo) <= bin(p) <= bin(hi)` — the equi-join on bins is a superset
  * of the true matches and the retained original predicate removes the
  * false positives. NULL bounds/points yield NULL bins → dropped by the
  * equi-join, exactly as the original comparison predicate drops them.
  * Degenerate intervals (lo > hi) explode to a single spurious bin
  * (`Greatest` guards Sequence against a negative range) whose joined
  * rows the residual predicate then rejects.
  *
  * Config — the rewrite is OPT-IN per session: it fires only when
  * `spark.graft.rangeBinJoin.binWidth` is explicitly set (mirroring the
  * bin-size parameter that range-join hints take in other engines).
  * There is no safe universal default: bins-per-interval is
  * `(hi-lo)/width + 1`, so a width far below the interval scale would
  * replicate the interval side arbitrarily — the user who knows the
  * interval distribution picks ~ the median width. A session that never
  * sets the conf never has a plan changed. `spark.graft.rangeBinJoin
  * .enabled=false` force-disables without unsetting the width. Malformed
  * conf values disable the rule (never break unrelated queries).
  *
  * The rewritten join carries the bin equality, so the rule never
  * re-matches its own output (fixpoint-safe in the operator-optimization
  * batch and under `experimental.extraOptimizations`).
  */
class RangeBinJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.rangeBinJoin.enabled", "true")
      .toBooleanOption.getOrElse(false)
  private def binWidth: Option[Double] =
    conf.getConfString("spark.graft.rangeBinJoin.binWidth", "")
      .toDoubleOption.filter(w => w > 0 && !w.isInfinite)

  /** (point, bound) if `e` is a lower/upper bound comparison between one
    * side's numeric expression and the other side's, else None.
    */
  private case class Bound(point: Expression, bound: Expression)

  private def numericOn(e: Expression, side: LogicalPlan): Boolean =
    e.deterministic && e.references.nonEmpty &&
      e.references.subsetOf(side.outputSet) &&
      e.dataType.isInstanceOf[NumericType]

  private def lowerBound(e: Expression, pSide: LogicalPlan, bSide: LogicalPlan): Option[Bound] = e match {
    case GreaterThanOrEqual(a, b) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case GreaterThan(a, b) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case LessThanOrEqual(b, a) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case LessThan(b, a) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case _ => None
  }

  private def upperBound(e: Expression, pSide: LogicalPlan, bSide: LogicalPlan): Option[Bound] = e match {
    case LessThanOrEqual(a, b) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case LessThan(a, b) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case GreaterThanOrEqual(b, a) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case GreaterThan(b, a) if numericOn(a, pSide) && numericOn(b, bSide) => Some(Bound(a, b))
    case _ => None
  }

  private def spansBothSides(e: Expression, l: LogicalPlan, r: LogicalPlan): Boolean =
    e.references.intersect(l.outputSet).nonEmpty && e.references.intersect(r.outputSet).nonEmpty

  private def bin(e: Expression, w: Double): Expression =
    Floor(new Divide(Cast(e, DoubleType), Literal(w))) // LongType

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = binWidth match {
      case Some(v) if enabled => v
      case _ => return plan
    }
    plan transform {
      case j @ Join(left, right, Inner | Cross, Some(cond), hint)
          if j.resolved && cond.deterministic =>
        val conjuncts = splitConjunctivePredicates(cond)
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) => spansBothSides(EqualTo(a, b), left, right)
          case EqualNullSafe(a, b) => spansBothSides(EqualNullSafe(a, b), left, right)
          case _ => false
        }
        if (hasEqui) j
        else {
          // try (point on left, bounds on right), then the mirror
          val candidates = Seq((left, right, true), (right, left, false)).flatMap {
            case (pSide, bSide, pointIsLeft) =>
              val lowers = conjuncts.flatMap(lowerBound(_, pSide, bSide))
              val uppers = conjuncts.flatMap(upperBound(_, pSide, bSide))
              for {
                lo <- lowers
                hi <- uppers
                if lo.point.semanticEquals(hi.point)
              } yield (lo.point, lo.bound, hi.bound, pointIsLeft)
          }
          candidates.headOption match {
            case None => j
            case Some((p, lo, hi, pointIsLeft)) =>
              val pointAlias = Alias(bin(p, w), "graft_bin_p")()
              val genAttr = AttributeReference("graft_bin_i", LongType, nullable = false)()
              // bin(lo)/bin(hi) are aliased in a Project below the Generate
              // so each is evaluated ONCE per interval row, not once per
              // Sequence operand reference
              val binLoAlias = Alias(bin(lo, w), "graft_bin_lo")()
              val binHiAlias = Alias(bin(hi, w), "graft_bin_hi")()
              // Sequence is TimeZoneAwareExpression: stays UNRESOLVED with
              // timeZoneId=None (the analyzer normally fills it; optimizer
              // rules must do it themselves)
              val seq = new Sequence(binLoAlias.toAttribute,
                Greatest(Seq(binLoAlias.toAttribute, binHiAlias.toAttribute)),
                Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
              def wrapPoint(side: LogicalPlan) =
                Project(side.output :+ pointAlias, side)
              def wrapIntervals(side: LogicalPlan) =
                Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
                  qualifier = None, generatorOutput = Seq(genAttr),
                  child = Project(side.output :+ binLoAlias :+ binHiAlias, side))
              val (newLeft, newRight) =
                if (pointIsLeft) (wrapPoint(left), wrapIntervals(right))
                else (wrapIntervals(left), wrapPoint(right))
              val newCond = And(EqualTo(pointAlias.toAttribute, genAttr), cond)
              Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
          }
        }
    }
  }
}
