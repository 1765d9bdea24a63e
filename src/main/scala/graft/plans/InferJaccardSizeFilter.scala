package graft.plans

import graft.functions.SortedArrayJaccard
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Catalyst optimizer rule: a threshold on set Jaccard implies a
  * size-ratio bound — jaccard(A,B) ≥ c ⟹ min(|A|,|B|) ≥ c·max(|A|,|B|)
  * (since |A∩B| ≤ min and jaccard = I/(|A|+|B|−I)). This rule infers
  * those cheap `size()` predicates next to any
  * `sorted_array_jaccard(a, b) >= c` filter, so the O(n+m) merge scan
  * only runs on pairs that could pass. On LSH candidate verification
  * this is the difference between scanning every candidate pair's
  * token arrays and integer-comparing two lengths first — exactly the
  * hand-written prefilter in d03, generalized to every query.
  *
  * Inferred predicates never change results (they are implied), so
  * the rule is safe at any position in the optimizer. Idempotent via
  * a semantic-equality check against existing conjuncts.
  *
  * `GraftExtensions` injects it into every session `Runeset.buildSession`
  * builds.
  */
object InferJaccardSizeFilter extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      augment(cond).map(c => Filter(c, child)).getOrElse(f)
    // the optimizer routinely pushes the jaccard predicate into the
    // join condition (the LSH-verification shape) — cover that too
    case j @ Join(_, _, _, Some(cond), _) =>
      augment(cond).map(c => j.copy(condition = Some(c))).getOrElse(j)
  }

  /** Returns the condition with inferred conjuncts added, or None if
    * nothing new can be inferred.
    */
  private def augment(cond: Expression): Option[Expression] = {
    val conjuncts = splitConjunctivePredicates(cond)
    val inferredRaw = conjuncts.flatMap {
      case GreaterThanOrEqual(SortedArrayJaccard(a, b), Literal(c: Double, DoubleType))
          if c > 0.0 && c <= 1.0 =>
        sizeBounds(a, b, c)
      case GreaterThan(SortedArrayJaccard(a, b), Literal(c: Double, DoubleType))
          if c > 0.0 && c <= 1.0 =>
        sizeBounds(a, b, c)
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

  /** min ≥ c·max, expressed symmetrically. The multiplier is relaxed
    * by 1e-9 relative so the inferred bound stays conservative under
    * floating-point evaluation: the jaccard predicate compares a
    * ROUNDED quotient against c, so a row can pass with a true ratio
    * up to a few ulps below c — a strict c·size bound would drop it
    * (concrete case: threshold 0.28 with sizes 7 and 25). The margin
    * is ~10⁷ ulps, far beyond any accumulation of rounding error,
    * while still pruning everything meaningfully below the threshold.
    */
  private def sizeBounds(a: Expression, b: Expression, c: Double): Seq[Expression] = {
    def sz(e: Expression) = Cast(Size(e), DoubleType)
    val cSafe = Literal(c * (1.0 - 1e-9))
    Seq(
      GreaterThanOrEqual(sz(a), Multiply(cSafe, sz(b))),
      GreaterThanOrEqual(sz(b), Multiply(cSafe, sz(a))))
  }
}
