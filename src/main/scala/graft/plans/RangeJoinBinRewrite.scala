package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Auto-bins interval-overlap (range) joins — the second custom
  * `Rule[LogicalPlan]` of the engine, the temporal sibling of
  * [[SimJoinBandRewrite]].
  *
  * An INNER join whose condition has NO cross-side equality but contains
  * an opposite-direction pair of cross-side `<=`/`<` conjuncts on LONG
  * columns — `l.start <= r.end AND r.start <= l.end`, the canonical
  * interval-overlap predicate — plans as a nested-loop/cartesian O(n·m)
  * scan. With `spark.graft.rangeJoin.binWidth` positive (a long in the
  * column's units; [[graft.api.Wireduck.setup]] installs 1 hour in
  * microseconds unless the session sets it), the rule rewrites it to the
  * binned form the hand-written q60_range_join builds manually: each side
  * explodes into the fixed-width bins its interval covers, the join
  * becomes an EQUI-join on the bin — shuffle-partitionable — and a
  * first-overlapping-bin predicate (`bin = greatest(floor(l.start/W),
  * floor(r.start/W))`) keeps exact multiset semantics: every pair
  * satisfying the two inequalities surfaces from exactly ONE bin.
  *
  * The correctness argument needs only the two inequalities themselves
  * (monotonicity of floor-division): for a qualifying pair, the chosen
  * bin lies inside both sides' exploded ranges, and the original
  * condition is preserved in full — so the rewrite is semantics-
  * preserving for arbitrary inputs, including degenerate (end < start)
  * intervals, whose explode range is normalized by least/greatest. The
  * bin-count fan-out per row is (interval span ÷ W) + 1: W is the knob
  * that trades shuffle volume for pruning, exactly like the public
  * binned-range-join designs in Databricks/Flink docs.
  */
object RangeJoinBinRewrite extends Rule[LogicalPlan] {

  /** The bin width conf; unset or not positive turns the rule off.
    * [[graft.api.Wireduck.setup]] installs a default. */
  val WidthKey = "spark.graft.rangeJoin.binWidth"

  /** Exact floor division by the positive literal W (div truncates toward
    * zero, which differs on negatives): (a − pmod(a, W)) ÷ W. */
  private def floorDiv(a: Expression, w: Long): Expression =
    IntegralDivide(Subtract(a, Pmod(a, Literal(w))), Literal(w))

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  /** Cross-side `x <= y` / `x < y` with x, y LONG: returns (x, y) with the
    * smaller side first, tagged by which plan side x belongs to. */
  private def crossLe(e: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Boolean)] = {
    def classify(x: Expression, y: Expression): Option[(Expression, Expression, Boolean)] =
      if (x.dataType != LongType || y.dataType != LongType) None
      else if (x.references.nonEmpty && y.references.nonEmpty &&
        x.references.subsetOf(left.outputSet) && y.references.subsetOf(right.outputSet))
        Some((x, y, true)) // x from left
      else if (x.references.nonEmpty && y.references.nonEmpty &&
        x.references.subsetOf(right.outputSet) && y.references.subsetOf(left.outputSet))
        Some((x, y, false)) // x from right
      else None
    e match {
      case LessThanOrEqual(x, y)    => classify(x, y)
      case LessThan(x, y)           => classify(x, y)
      case GreaterThanOrEqual(y, x) => classify(x, y)
      case GreaterThan(y, x)        => classify(x, y)
      case _                        => None
    }
  }

  private def crossEquality(e: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    e match {
      case EqualTo(x, y) =>
        (x.references.nonEmpty && y.references.nonEmpty) &&
          ((x.references.subsetOf(left.outputSet) && y.references.subsetOf(right.outputSet)) ||
            (x.references.subsetOf(right.outputSet) && y.references.subsetOf(left.outputSet)))
      case _ => false
    }

  private def explodeBins(child: LogicalPlan, start: Expression, end: Expression,
      w: Long, name: String): (LogicalPlan, Attribute) = {
    val fs = floorDiv(start, w)
    val fe = floorDiv(end, w)
    // Sequence is TimeZoneAware: an unset timeZoneId leaves the expression
    // unresolved and fails Spark 4's post-rule plan validation
    val arr = Sequence(Least(Seq(fs, fe)), Greatest(Seq(fs, fe)),
      Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
    val bin = AttributeReference(name, LongType, nullable = true)()
    (Generate(Explode(arr), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(bin), child), bin)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = conf.getConfString(WidthKey, "0").toLong
    if (width <= 0) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val conjuncts = splitConjuncts(cond)
        if (conjuncts.exists(crossEquality(_, left, right))) j
        else {
          val les = conjuncts.flatMap(crossLe(_, left, right))
          // an opposite-direction pair: (lExpr <= rExpr) and (rExpr' <= lExpr')
          val fwd = les.find(_._3)      // lStart <= rEnd
          val bwd = les.find(!_._3)     // rStart <= lEnd
          (fwd, bwd) match {
            case (Some((lStart, rEnd, _)), Some((rStart, lEnd, _))) =>
              val (l2, lbin) = explodeBins(left, lStart, lEnd, width, "_graft_l_bin")
              val (r2, rbin) = explodeBins(right, rStart, rEnd, width, "_graft_r_bin")
              val firstBin = Greatest(Seq(floorDiv(lStart, width), floorDiv(rStart, width)))
              val newCond = And(
                And(EqualTo(lbin, rbin), EqualTo(lbin, firstBin)),
                cond)
              Project(j.output, Join(l2, r2, Inner, Some(newCond), hint))
            case _ => j
          }
        }
    }
  }
}
