package graft.plans

import graft.functions.{SortedArrayJaccard, SortedArrayJaccardAtLeast}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Catalyst optimizer rule (r16, guide §1.2): a
  * `sorted_array_jaccard(a, b) >= c` conjunct in a Filter or Join
  * predicate DROPS the jaccard value after one comparison — rewrite it
  * to the early-exit boolean kernel
  * [[SortedArrayJaccardAtLeast]], which aborts the O(n+m) merge scan
  * as soon as the best still-achievable intersection can no longer
  * reach the threshold. On LSH candidate verification (the c02-family
  * kernel, c24, d03's banded pairs, the d16/q93 streaming gate) almost
  * every candidate FAILS the 0.9 bar, so the abort converts the
  * dominant full-length scans into short prefixes.
  *
  * Result-identical by the kernel's construction (see its Scaladoc:
  * the minimal passing intersection is derived with the exact same
  * double division/comparison, and correctly-rounded division is
  * monotone). Sites that EMIT the jaccard value are expressions inside
  * Project/Aggregate nodes — this rule never touches those, so d05/d08
  * style reports keep the original expression.
  *
  * Must run AFTER [[InferJaccardSizeFilter]] within the same fixpoint
  * batch: that rule pattern-matches the `SortedArrayJaccard >= c`
  * shape to infer its size-ratio prefilters, and this rewrite consumes
  * the shape. Both are registered in order by
  * [[graft.functions.GraftExtensions]]; within one batch iteration
  * rules apply in sequence, so the inference always sees the original
  * conjunct first.
  */
object RewriteJaccardThresholdPredicate extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val next = rewrite(cond)
      if (next.fastEquals(cond)) f else Filter(next, child)
    case j @ Join(_, _, _, Some(cond), _) =>
      val next = rewrite(cond)
      if (next.fastEquals(cond)) j else j.copy(condition = Some(next))
  }

  private def rewrite(cond: Expression): Expression = cond.transform {
    case GreaterThanOrEqual(SortedArrayJaccard(a, b), Finite(c)) =>
      SortedArrayJaccardAtLeast(a, b, c, strict = false)
    case GreaterThan(SortedArrayJaccard(a, b), Finite(c)) =>
      SortedArrayJaccardAtLeast(a, b, c, strict = true)
    case LessThan(Finite(c), SortedArrayJaccard(a, b)) =>
      SortedArrayJaccardAtLeast(a, b, c, strict = true)
    case LessThanOrEqual(Finite(c), SortedArrayJaccard(a, b)) =>
      SortedArrayJaccardAtLeast(a, b, c, strict = false)
  }

  /** A finite Double literal threshold. The kernel's codegen writes the
    * threshold into Java source, where NaN or Infinity does not
    * compile, so those comparisons keep their original expression.
    */
  private object Finite {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(c: Double, DoubleType) if !c.isNaN && !c.isInfinite => Some(c)
      case _ => None
    }
  }
}
