package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite a pure range (point-in-interval) inner join into
  * the bucketed equi-join decomposition — automatically.
  *
  * A join whose only cross-side predicates are `t >= s AND t < e` has no
  * equi keys, so Spark plans a BroadcastNestedLoopJoin — O(|points| ×
  * |intervals|) comparisons, which does not survive scale. The manual
  * decomposition ([[graft.ops.RangeJoin.pointInInterval]]) quantizes time
  * into fixed-width buckets, explodes each interval to the buckets it
  * overlaps, and equi-joins on the bucket. This rule applies the SAME
  * rewrite inside Catalyst, so a user writing the natural non-equi join —
  * through the DataFrame API or SQL — gets the scalable plan without
  * knowing the trick:
  *
  * {{{
  *   Join(L, R, t >= s && t < e && rest…)
  *   ⇒ Project(origOutput,
  *       Join(Project(L, * + t DIV W as bL),
  *            Generate(Explode(Sequence(s DIV W, (e-1) DIV W)) as bR,
  *                     Filter(e > s, R)),
  *            bL = bR && t >= s && t < e && rest…))
  * }}}
  *
  * Each matching (point, interval) pair shares exactly one bucket (the
  * point's own), so the rewrite introduces no duplicates and needs no
  * post-join dedup. Inverted intervals are filtered before the explode
  * (they can't match anyway — `t >= s && t < e` is unsatisfiable for
  * `e <= s`).
  *
  * Fires only when:
  *   - `spark.graft.rangeJoin.bucketWidth` is set > 0 (the width is a
  *     data-dependent choice — near the typical interval span);
  *   - the join is INNER with no equi conjunct across sides (if one
  *     exists, Spark already plans a hash/sort-merge join with the range
  *     as residual — rewriting would only add explode volume; this guard
  *     also makes the rule idempotent, since the rewritten join has an
  *     equi conjunct);
  *   - point and bounds are int/long attributes, point from one side and
  *     both bounds from the other (either orientation).
  */
class RangeJoinRewrite extends Rule[LogicalPlan] {

  private def widthConf: Long =
    conf.getConfString("spark.graft.rangeJoin.bucketWidth", "0").toLong

  private def isIntegral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  /** (point, start, end, pointOnLeft) for `t >= s` / `t < e` conjunct pairs. */
  private case class RangePattern(t: Attribute, s: Attribute, e: Attribute, others: Seq[Expression])

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def hasEquiConjunct(conjuncts: Seq[Expression], left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
      case _ => false
    }

  /** Normalize a conjunct to (t >= s) with t on the point side. */
  private def asLowerBound(c: Expression): Option[(Attribute, Attribute)] = c match {
    case GreaterThanOrEqual(t: Attribute, s: Attribute) => Some((t, s))
    case LessThanOrEqual(s: Attribute, t: Attribute) => Some((t, s))
    case _ => None
  }

  /** Normalize a conjunct to (t < e) with t on the point side. */
  private def asUpperBound(c: Expression): Option[(Attribute, Attribute)] = c match {
    case LessThan(t: Attribute, e: Attribute) => Some((t, e))
    case GreaterThan(e: Attribute, t: Attribute) => Some((t, e))
    case _ => None
  }

  private def findPattern(
      conjuncts: Seq[Expression],
      points: LogicalPlan,
      intervals: LogicalPlan
  ): Option[RangePattern] = {
    val fromPoints = (a: Attribute) => points.outputSet.contains(a)
    val fromIntervals = (a: Attribute) => intervals.outputSet.contains(a)
    val lowers = conjuncts.flatMap(c => asLowerBound(c).map(c -> _))
    val uppers = conjuncts.flatMap(c => asUpperBound(c).map(c -> _))
    (for {
      (lc, (t1, s)) <- lowers
      (uc, (t2, e)) <- uppers
      if t1.semanticEquals(t2)
      if fromPoints(t1) && fromIntervals(s) && fromIntervals(e)
      if Seq(t1, s, e).forall(isIntegral)
    } yield RangePattern(t1, s, e, conjuncts.filterNot(c => c.semanticEquals(lc) || c.semanticEquals(uc))))
      .headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = widthConf
    if (width <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        val conjuncts = splitConjuncts(cond)
        if (hasEquiConjunct(conjuncts, left, right)) j
        else {
          // try both orientations: points on the left, or on the right
          val pattern = findPattern(conjuncts, left, right).map(p => (p, true))
            .orElse(findPattern(conjuncts, right, left).map(p => (p, false)))
          pattern match {
            case None => j
            case Some((p, pointsOnLeft)) =>
              val (points, intervals) = if (pointsOnLeft) (left, right) else (right, left)
              val w = Literal(width, LongType)
              def divW(e: Expression): Expression =
                IntegralDivide(Cast(e, LongType), w)
              // points side: bucket projection
              val bucketL = Alias(divW(p.t), "_graft_bucket_p")()
              val pointsProj = Project(points.output :+ bucketL, points)
              // intervals side: drop inverted intervals, explode bucket range
              val filtered = Filter(GreaterThan(Cast(p.e, LongType), Cast(p.s, LongType)), intervals)
              // timeZoneId must be bound for Sequence to count as resolved,
              // even for purely integral sequences.
              val seq = new Sequence(
                divW(p.s),
                divW(Subtract(Cast(p.e, LongType), Literal(1L, LongType))),
                None,
                Some(conf.sessionLocalTimeZone)
              )
              val bucketR = AttributeReference("_graft_bucket_i", LongType, nullable = false)()
              val gen = Generate(Explode(seq), Nil, outer = false, None, Seq(bucketR), filtered)
              val newCond = (EqualTo(bucketL.toAttribute, bucketR) +: conjuncts).reduce(And)
              val (newLeft, newRight) = if (pointsOnLeft) (pointsProj, gen) else (gen, pointsProj)
              Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
          }
        }
    }
  }
}
