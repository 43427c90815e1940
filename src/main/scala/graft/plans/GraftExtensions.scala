package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Graft's Catalyst extension point, registered with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (Verify/Bench
  * builders) or `.withExtensions(new GraftExtensions)`.
  *
  * Injects the [[EditDistancePrefilter]] optimizer rule (whole-plan
  * rewrites per-expression helpers can't express) and two planner
  * strategies: [[AsofJoinStrategy]] for the native as-of join operator
  * ([[AsofJoinNode]] → [[AsofJoinExec]]) and [[ChannelStrategy]] for
  * the channel operator of the signal spine ([[ChannelNode]] →
  * [[ChannelExec]], [[ChannelPeaksNode]] → [[ChannelPeaksExec]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => EditDistancePrefilter)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    e.injectPlannerStrategy(_ => ChannelStrategy)
  }
}

/** Strengthens `levenshtein(a, b) <= k` filters with the free lower
  * bound `abs(length(a) - length(b)) <= k`: a length difference of d
  * forces at least d insertions/deletions, so the cheap O(1) length
  * predicate rejects rows (and, after further pushdown, whole
  * min/max-pruned parquet row groups) before the O(k·n)
  * edit-distance DP runs — the Ed-Join/PassJoin length filter, applied
  * automatically by the optimizer instead of hand-written into every
  * query (the engine's q70/q83 write it manually; under this rule any
  * user query gets it for free).
  *
  * Soundness notes (the subtle cases are WHY this is a Rule and not a
  * rewrite users are told to apply):
  *  - the THRESHOLD form `levenshtein(a, b, t)` returns −1 when the
  *    distance exceeds t, and −1 ≤ k holds vacuously — so `lev ≤ k`
  *    alone does NOT imply distance ≤ k there. The bound is added
  *    only when the conjunction also proves the result non-negative
  *    (a `lev >= 0`-shaped conjunct), or the expression is the
  *    un-thresholded form whose result is always the true distance.
  *  - nulls: when a or b is null both the original predicate and the
  *    added bound evaluate null — row sets are identical.
  *  - idempotence: the bound is added once (a semantically equal
  *    conjunct suppresses re-addition), so repeated optimizer passes
  *    are stable.
  */
object EditDistancePrefilter extends Rule[LogicalPlan] {

  /** Strip casts: comparisons often wrap the call (e.g. a `long`
    * column alias over the int-typed expression).
    */
  @annotation.tailrec
  private def unwrap(e: Expression): Expression = e match {
    case c: Cast => unwrap(c.child)
    case other => other
  }

  private def intValue(l: Literal): Option[Long] = l.dataType match {
    case IntegerType => Some(l.value.asInstanceOf[Int].toLong)
    case LongType => Some(l.value.asInstanceOf[Long])
    case _ => None
  }

  /** `lev <= k` conjunct in either orientation → (lev, k). */
  private def upperBound(e: Expression): Option[(Levenshtein, Long)] = e match {
    case LessThanOrEqual(l, lit: Literal) =>
      unwrap(l) match {
        case lev: Levenshtein => intValue(lit).map(lev -> _)
        case _ => None
      }
    case GreaterThanOrEqual(lit: Literal, l) =>
      unwrap(l) match {
        case lev: Levenshtein => intValue(lit).map(lev -> _)
        case _ => None
      }
    case LessThan(l, lit: Literal) =>
      unwrap(l) match {
        case lev: Levenshtein => intValue(lit).map(v => lev -> (v - 1L))
        case _ => None
      }
    case _ => None
  }

  /** A conjunct proving the (possibly thresholded) result is a real
    * distance: `lev >= 0` / `0 <= lev` / `lev > -1`.
    */
  private def provesNonNegative(e: Expression, lev: Levenshtein): Boolean = {
    def isZeroOrNeg(l: Literal, strictNeg: Boolean): Boolean =
      intValue(l).exists(v => if (strictNeg) v < 0 else v <= 0)
    e match {
      case GreaterThanOrEqual(l, lit: Literal) =>
        unwrap(l).semanticEquals(lev) && isZeroOrNeg(lit, strictNeg = false)
      case LessThanOrEqual(lit: Literal, l) =>
        unwrap(l).semanticEquals(lev) && isZeroOrNeg(lit, strictNeg = false)
      case GreaterThan(l, lit: Literal) =>
        unwrap(l).semanticEquals(lev) && isZeroOrNeg(lit, strictNeg = true)
      case _ => false
    }
  }

  private def lengthBound(lev: Levenshtein, k: Long): Expression =
    LessThanOrEqual(
      Cast(Abs(Subtract(Length(lev.left), Length(lev.right))), LongType),
      Literal(k, LongType))

  /** The fresh implied bounds for a conjunctive condition (empty when
    * nothing qualifies or every bound is already present).
    */
  private def freshBounds(cond: Expression): Seq[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val bounds = conjuncts.flatMap(upperBound).filter { case (lev, k) =>
      k >= 0 &&
        (lev.threshold.isEmpty ||
          conjuncts.exists(provesNonNegative(_, lev)))
    }
    bounds.map { case (lev, k) => lengthBound(lev, k) }
      .filterNot(b => conjuncts.exists(_.semanticEquals(b)))
  }

  /** PREPEND the O(1) bounds: And short-circuits left-to-right in
    * both interpreted and codegen'd evaluation, so the length check
    * rejects a row before the O(k·n) DP ever runs (And is commutative
    * in three-valued logic — row sets are unchanged).
    */
  private def prepend(fresh: Seq[Expression], cond: Expression): Expression =
    (fresh :+ cond).reduce(And)

  /** Matches both homes a levenshtein predicate can land in after
    * PushDownPredicates: a Filter node, or a Join CONDITION (the rule
    * shares the optimizer's fixpoint batch, so a predicate pushed
    * into a join on one pass is strengthened on the next). Adding an
    * IMPLIED conjunct to a join condition is sound for every join
    * type: where the condition was true the bound is true too, and
    * false/null both already mean non-match.
    */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val fresh = freshBounds(cond)
      if (fresh.isEmpty) f else Filter(prepend(fresh, cond), child)
    case j @ Join(_, _, _, Some(cond), _) =>
      val fresh = freshBounds(cond)
      if (fresh.isEmpty) j else j.copy(condition = Some(prepend(fresh, cond)))
  }

  private def splitConjunctivePredicates(cond: Expression): Seq[Expression] =
    cond match {
      case And(l, r) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }
}
