package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, Divide, EqualNullSafe, EqualTo, Explode, Expression, Floor, GreaterThan, GreaterThanOrEqual, Greatest, LessThan, LessThanOrEqual, Literal, PredicateHelper, Sequence}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Optimizer rule: rewrites an interval-OVERLAP join — an inner join whose
  * only cross-side predicates are the two opposing bound comparisons
  * `A.lo ≤ B.hi AND B.lo ≤ A.hi` — into a binned equi-join, the two-sided
  * generalization of [[RangeBinJoinRule]].
  *
  * Why: a pure overlap predicate has no equality conjunct, so Spark plans
  * BroadcastNestedLoopJoin — O(|A|·|B|). The scale shape explodes BOTH
  * interval sides into the fixed-width bins they cover and joins on bin
  * equality (hash, AQE-planned). The subtlety vs the one-sided rule is
  * DUPLICATES: an overlapping pair shares every bin its intersection
  * covers. Rather than a distinct (which would need a row identity the
  * rule cannot know), the rewrite keeps a pair only at its CANONICAL bin
  * — the intersection's first bin `max(bin(A.lo), bin(B.lo))` — which
  * exists and is unique for every truly matching pair, so each match
  * survives exactly once and no distinct is needed.
  *
  * Correctness: floor(x/w) is monotone. For a matching pair,
  * m = max(bin(A.lo), bin(B.lo)) satisfies bin(A.lo) ≤ m ≤ bin(A.hi) and
  * bin(B.lo) ≤ m ≤ bin(B.hi) (via A.lo ≤ B.hi and B.lo ≤ A.hi), so both
  * sides emit m and the pair joins there; the retained original predicate
  * removes bin-coincidence false positives. A DEGENERATE "interval" with
  * lo > hi can still genuinely match (e.g. A=[5,3] vs B=[1,10] satisfies
  * both comparisons); its Sequence is guarded to the single bin bin(lo)
  * (`Greatest`), and that bin IS the canonical bin of any such match
  * (B.lo ≤ A.hi < A.lo ⇒ m = bin(A.lo)), so those matches survive too —
  * equivalence holds for every input, not just well-formed intervals.
  * A point-in-interval join (p ≥ lo AND p ≤ hi) also matches this rule's
  * pattern with A = the degenerate [p, p] — the rewrite is correct there
  * as well; [[RangeBinJoinRule]] simply fires first when both are
  * enabled. NULL bounds yield NULL bins → the Sequence is NULL → the
  * non-outer Generate drops the row, exactly as the NULL comparison
  * drops it in the original join.
  *
  * Config: opt-in per session via `spark.graft.overlapBinJoin.binWidth`
  * (pick ~ the SHORT side's median interval span: bins-per-interval is
  * span/width + 1, so replication stays O(1)); `spark.graft
  * .overlapBinJoin.enabled=false` force-disables. Malformed values
  * disable the rule, never break queries. The rewritten join carries the
  * bin equality, so the rule never re-matches its own output.
  */
class OverlapBinJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.overlapBinJoin.enabled", "true")
      .toBooleanOption.getOrElse(false)
  private def binWidth: Option[Double] =
    conf.getConfString("spark.graft.overlapBinJoin.binWidth", "")
      .toDoubleOption.filter(w => w > 0 && !w.isInfinite)

  private def numericOn(e: Expression, side: LogicalPlan): Boolean =
    e.deterministic && e.references.nonEmpty &&
      e.references.subsetOf(side.outputSet) &&
      e.dataType.isInstanceOf[NumericType]

  /** `x ≤ y` (or strict) with x on `xSide` and y on `ySide`, in either
    * written orientation.
    */
  private case class Le(x: Expression, y: Expression)
  private def leOn(e: Expression, xSide: LogicalPlan, ySide: LogicalPlan): Option[Le] = e match {
    case LessThanOrEqual(a, b) if numericOn(a, xSide) && numericOn(b, ySide) => Some(Le(a, b))
    case LessThan(a, b) if numericOn(a, xSide) && numericOn(b, ySide) => Some(Le(a, b))
    case GreaterThanOrEqual(b, a) if numericOn(a, xSide) && numericOn(b, ySide) => Some(Le(a, b))
    case GreaterThan(b, a) if numericOn(a, xSide) && numericOn(b, ySide) => Some(Le(a, b))
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
          case e @ EqualTo(_, _) => spansBothSides(e, left, right)
          case e @ EqualNullSafe(_, _) => spansBothSides(e, left, right)
          case _ => false
        }
        val pair = if (hasEqui) None
        else for {
          c1 <- conjuncts.flatMap(leOn(_, left, right)).headOption // A.lo ≤ B.hi
          c2 <- conjuncts.flatMap(leOn(_, right, left)).headOption // B.lo ≤ A.hi
        } yield (c1, c2)
        pair match {
          case None => j
          case Some((Le(aLo, bHi), Le(bLo, aHi))) =>
            val tz = Some(conf.sessionLocalTimeZone)
            // bins aliased in a Project below each Generate so each is
            // evaluated once per interval row (RangeBinJoinRule idiom)
            val aLoAl = Alias(bin(aLo, w), "graft_ov_alo")()
            val aHiAl = Alias(bin(aHi, w), "graft_ov_ahi")()
            val bLoAl = Alias(bin(bLo, w), "graft_ov_blo")()
            val bHiAl = Alias(bin(bHi, w), "graft_ov_bhi")()
            val genA = AttributeReference("graft_ov_bina", LongType, nullable = false)()
            val genB = AttributeReference("graft_ov_binb", LongType, nullable = false)()
            def explodeSide(side: LogicalPlan, loAl: Alias, hiAl: Alias,
                            gen: AttributeReference) = {
              val seq = new Sequence(loAl.toAttribute,
                Greatest(Seq(loAl.toAttribute, hiAl.toAttribute)),
                Some(Literal(1L)), tz)
              Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
                qualifier = None, generatorOutput = Seq(gen),
                child = Project(side.output :+ loAl :+ hiAl, side))
            }
            val newLeft = explodeSide(left, aLoAl, aHiAl, genA)
            val newRight = explodeSide(right, bLoAl, bHiAl, genB)
            val canonical = EqualTo(genA,
              Greatest(Seq(aLoAl.toAttribute, bLoAl.toAttribute)))
            val newCond = And(EqualTo(genA, genB), And(canonical, cond))
            Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
        }
    }
  }
}
