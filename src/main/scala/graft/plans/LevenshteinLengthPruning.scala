package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst optimizer rule: a threshold on Levenshtein distance
  * implies a length-difference bound — unit-cost edit distance is at
  * least ||a| − |b|| (every length change costs one edit), so
  * `levenshtein(a, b) ≤ k ⟹ abs(length(a) − length(b)) ≤ k`. The
  * inferred predicate is two integer lengths and a compare; the
  * original is an O(|a|·|b|) dynamic program — on fuzzy-dedup
  * verification this prunes candidate pairs BEFORE the DP runs,
  * generalizing d13's prefilter to every query that writes a
  * Levenshtein threshold (the same move [[InferJaccardSizeFilter]]
  * makes for Jaccard thresholds).
  *
  * Covered shapes: any comparison `f(levenshtein(a, b)) ≤/< rhs` (or
  * the mirrored `rhs ≥/> f(...)`) where `f` is a MONOTONE
  * NONDECREASING integer context — the bare call, an integral
  * widening cast, or multiplication by a nonnegative integral
  * constant, nested in any order. Since |len(a) − len(b)| ≤
  * levenshtein(a, b) and f is monotone, `f(lev) ≤ rhs` implies
  * `f(|Δlen|) ≤ rhs` pointwise for ANY rhs value, so relative
  * thresholds like `lev * 20 ≤ len(a) + len(b)` (d13's spelling)
  * infer `abs(len(a) − len(b)) * 20 ≤ len(a) + len(b)` with the
  * identical cast/multiply context (same ANSI overflow behavior; the
  * inferred operand is the smaller one, so no new error can fire).
  *
  * Only the plain two-argument form is rewritten: Spark's
  * three-argument `levenshtein(a, b, threshold)` returns −1 above the
  * threshold, so a user predicate over it has different algebra and
  * is left alone. Null semantics are preserved — the inferred
  * predicate is null on exactly the rows where the original is (same
  * operand nullability through the same context), and a conjunction
  * with null filters exactly like the original did.
  *
  * Inferred predicates never change results (they are implied);
  * idempotent via a semantic-equality check against existing
  * conjuncts, and deduplicated within a single pass so two identical
  * thresholds in one predicate infer one bound, not two. Installed in
  * every session `Runeset.buildSession` builds, through
  * `GraftExtensions`.
  */
object LevenshteinLengthPruning extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      augment(cond).map(c => Filter(c, child)).getOrElse(f)
    // the threshold routinely sits in the join condition of a
    // candidate-verification join — cover that shape too
    case j @ Join(_, _, _, Some(cond), _) =>
      augment(cond).map(c => j.copy(condition = Some(c))).getOrElse(j)
  }

  /** Matches a monotone-nondecreasing integral image of
    * `levenshtein(a, b)`: the call itself, an int/long widening cast
    * of one, or a multiply by a nonnegative integral constant (either
    * side). Returns the string operands plus a rebuild function that
    * wraps a replacement expression in the SAME context — types,
    * casts, and ANSI eval mode preserved via `withNewChildren`.
    */
  private object MonotoneLev {
    def unapply(e: Expression): Option[(Expression, Expression, Expression => Expression)] =
      e match {
        case Levenshtein(a, b, None) =>
          Some((a, b, identity[Expression] _))
        case c: Cast if c.dataType == IntegerType || c.dataType == LongType =>
          unapply(c.child).map { case (a, b, f) =>
            (a, b, (x: Expression) => c.withNewChildren(Seq(f(x))))
          }
        case m: Multiply =>
          // the constant side may still be a cast-wrapped literal in
          // an un-folded plan (`cast(20 as bigint)`) — accept any
          // foldable nonnegative integral expression
          if (nonNegIntegralConst(m.right))
            unapply(m.left).map { case (a, b, f) =>
              (a, b, (x: Expression) => m.withNewChildren(Seq(f(x), m.right)))
            }
          else if (nonNegIntegralConst(m.left))
            unapply(m.right).map { case (a, b, f) =>
              (a, b, (x: Expression) => m.withNewChildren(Seq(m.left, f(x))))
            }
          else None
        case _ => None
      }

    private def nonNegIntegralConst(e: Expression): Boolean =
      e.foldable && (e.dataType match {
        case IntegerType | LongType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType =>
          e.eval() match {
            case i: Int => i >= 0
            case l: Long => l >= 0
            case s: Short => s >= 0
            case b: Byte => b >= 0
            case _ => false
          }
        case _ => false
      })
  }

  private def augment(cond: Expression): Option[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // skip inference when the other side still contains a levenshtein
    // call — the inferred conjunct would run a DP itself, costing
    // exactly what the pruning is meant to avoid
    def noLev(e: Expression): Boolean = !e.exists(_.isInstanceOf[Levenshtein])
    val inferredRaw = conjuncts.flatMap {
      case LessThanOrEqual(MonotoneLev(a, b, f), rhs) if noLev(rhs) =>
        Seq(LessThanOrEqual(f(lengthGap(a, b)), rhs))
      case LessThan(MonotoneLev(a, b, f), rhs) if noLev(rhs) =>
        Seq(LessThan(f(lengthGap(a, b)), rhs))
      case GreaterThanOrEqual(lhs, MonotoneLev(a, b, f)) if noLev(lhs) =>
        Seq(GreaterThanOrEqual(lhs, f(lengthGap(a, b))))
      case GreaterThan(lhs, MonotoneLev(a, b, f)) if noLev(lhs) =>
        Seq(GreaterThan(lhs, f(lengthGap(a, b))))
      case _ => Nil
    }
    // dedupe within the pass (two identical thresholds must not stack
    // two identical bounds), then against what the predicate already has
    val inferred = inferredRaw
      .foldLeft(Vector.empty[Expression]) { (acc, p) =>
        if (acc.exists(_.semanticEquals(p))) acc else acc :+ p
      }
      .filterNot(p => conjuncts.exists(_.semanticEquals(p)))
    if (inferred.isEmpty) None else Some((inferred :+ cond).reduce(And))
  }

  /** abs(length(a) − length(b)) — the Levenshtein lower bound, same
    * IntegerType as the call it replaces inside the monotone context.
    */
  private def lengthGap(a: Expression, b: Expression): Expression =
    Abs(Subtract(Length(a), Length(b)))
}
