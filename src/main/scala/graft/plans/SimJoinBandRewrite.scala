package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.HammingDistance

/** Auto-bands similarity joins — the custom `Rule[LogicalPlan]` layer of
  * the engine (SURVEY §2B "custom operators", preference order (c)).
  *
  * An INNER join whose condition contains `hamming_distance(l, r) <= k`
  * (k ≤ 31, 64-bit signatures) and has NO cross-side equality would plan
  * as a nested-loop/cartesian O(n²) scan. The rule rewrites it to the
  * pigeonhole banded form the hand-written dd_simhash_pairs query builds
  * manually: each side position-explodes its signature into k+1 disjoint
  * bands (distance ≤ k ⇒ at least one band equal), the join becomes an
  * EQUI-join on (band index, band value) — shuffle-partitionable, so it
  * scales like any key join — and a first-agreeing-band predicate keeps
  * exact pair multiplicity (each qualifying pair appears from exactly ONE
  * band; no post-dedup, duplicate input rows keep multiset semantics).
  * The original condition is preserved in full, so the rewrite is
  * semantics-preserving by construction; the equi-key guard makes it a
  * fixpoint (the rewritten join no longer matches).
  *
  * Active in sessions built with [[graft.GraftExtensions]], which injects
  * it into the operator optimization batch; the threshold is matched as a
  * BIGINT literal, which that batch's constant folding produces before the
  * fixed point ends.
  */
object SimJoinBandRewrite extends Rule[LogicalPlan] {

  /** Most permissive threshold we band for: k+1 bands of a 64-bit
    * signature must each span ≥ 2 bits to prune anything. */
  private val MaxK = 31

  /** Band bit-offsets for k+1 bands over 64 bits: the first 64 % (k+1)
    * bands take one extra bit. Pigeonhole needs only band COUNT — with
    * distance ≤ k and k+1 disjoint bands, some band has zero differing
    * bits — so unequal widths are fine. */
  private def bandLayout(k: Long): Seq[(Int, Int)] = {
    val nb = (k + 1).toInt
    val base = 64 / nb
    val extra = 64 % nb
    val widths = (0 until nb).map(j => if (j < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths).take(nb)
  }

  private def bandExpr(sig: Expression, off: Int, width: Int): Expression =
    // A full-width band (k = 0 ⇒ one 64-bit band) must not build its mask
    // as (1L << 64) - 1: Scala shifts mod 64, so that mask is 0 and both
    // band values would be the CONSTANT 0 — a single-reducer cross
    // product. The unmasked shift IS the band value there.
    if (width >= 64) ShiftRightUnsigned(sig, Literal(off))
    else BitwiseAnd(ShiftRightUnsigned(sig, Literal(off)), Literal((1L << width) - 1))

  /** Index of the first agreeing band (defined whenever the hamming
    * predicate held — pigeonhole guarantees one exists). */
  private def firstAgreeBand(l: Expression, r: Expression, k: Long): Expression =
    CaseWhen(
      bandLayout(k).zipWithIndex.map { case ((off, w), j) =>
        (EqualTo(bandExpr(l, off, w), bandExpr(r, off, w)), Literal(j))
      },
      None)

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other     => Seq(other)
  }

  /** (left signature, right signature, threshold) when `e` is a
    * qualifying hamming threshold predicate between the two sides. */
  private def hammingSides(e: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Long)] = {
    def sides(a: Expression, b: Expression, k: Long)
        : Option[(Expression, Expression, Long)] =
      if (a.references.nonEmpty && b.references.nonEmpty &&
        a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
        Some((a, b, k))
      else if (a.references.nonEmpty && b.references.nonEmpty &&
        a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
        Some((b, a, k))
      else None
    e match {
      case LessThanOrEqual(HammingDistance(a, b), Literal(k: Long, LongType))
          if k >= 0 && k <= MaxK => sides(a, b, k)
      case LessThan(HammingDistance(a, b), Literal(k: Long, LongType))
          if k >= 1 && k <= MaxK + 1 => sides(a, b, k - 1)
      case GreaterThanOrEqual(Literal(k: Long, LongType), HammingDistance(a, b))
          if k >= 0 && k <= MaxK => sides(a, b, k)
      case _ => None
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

  private def posExplodeBands(child: LogicalPlan, sig: Expression, k: Long,
      prefix: String): (LogicalPlan, Attribute, Attribute) = {
    val arr = CreateArray(bandLayout(k).map { case (off, w) => bandExpr(sig, off, w) })
    val pos = AttributeReference(prefix + "_band_idx", IntegerType, nullable = false)()
    val value = AttributeReference(prefix + "_band_val", LongType, nullable = true)()
    (Generate(PosExplode(arr), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(pos, value), child), pos, value)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjuncts(cond)
      val hamming = conjuncts.view.flatMap(hammingSides(_, left, right)).headOption
      val hasEqui = conjuncts.exists(crossEquality(_, left, right))
      hamming match {
        case Some((lsig, rsig, k)) if !hasEqui =>
          val (l2, lpos, lval) = posExplodeBands(left, lsig, k, "_graft_l")
          val (r2, rpos, rval) = posExplodeBands(right, rsig, k, "_graft_r")
          val newCond = And(
            And(EqualTo(lpos, rpos), EqualTo(lval, rval)),
            And(EqualTo(firstAgreeBand(lsig, rsig, k), lpos), cond))
          Project(j.output, Join(l2, r2, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
