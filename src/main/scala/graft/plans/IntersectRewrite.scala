package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, ArrayDistinct, ArrayIntersect, ArraySort, Expression, If, IsNull, LambdaFunction, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.functions.SortedIntersectSize

/** Optimizer rule: `size(array_intersect(a, b))` → native merge-scan
  * [[SortedIntersectSize]] whenever both inputs are PROVABLY sorted and
  * duplicate-free long arrays (syntactically `array_sort(array_distinct(…))`,
  * possibly through aliases resolved upstream). array_intersect builds a
  * per-call hash set and materializes the intersection array only for its
  * size to be taken — the rewrite makes the common near-dup verification
  * shape allocation-free without the query author knowing the native
  * function exists. Registered via [[graft.GraftExtensions]].
  */
object IntersectRewrite extends Rule[LogicalPlan] {

  /** Only the DEFAULT ascending comparator guarantees the ordering the
    * merge scan assumes (values ascending, nulls at the tail) — a custom
    * comparator (e.g. descending) must NOT match or the rewrite would
    * silently produce wrong counts. The analyzer rebinds the default
    * comparator's lambda variables with fresh ExprIds, so equality against
    * `ArraySort.defaultComparator` never holds post-resolution; instead
    * rebuild the canonical comparator over THIS lambda's bound variables
    * and compare semantically. Null ELEMENTS are fine: the merge scan
    * handles them (null = +infinity, null==null matches). On non-null
    * elements the optimizer has already folded the comparator's null
    * branches away (this rule runs after NullPropagation), so there the
    * body is matched against the canonical comparator without them. */
  private def isDefaultComparator(f: Expression): Boolean = f match {
    case LambdaFunction(body, Seq(a, b), _) =>
      val canonical = ArraySort.comparator(a, b)
      body.semanticEquals(canonical) ||
        (!a.nullable && !b.nullable && body.semanticEquals(withoutNullBranches(canonical)))
    case _ => f == ArraySort.defaultComparator
  }

  private def withoutNullBranches(e: Expression): Expression = e match {
    case If(IsNull(_) | And(IsNull(_), IsNull(_)), _, rest) => withoutNullBranches(rest)
    case _ => e
  }

  private def sortedDistinctLongs(e: Expression): Boolean = e match {
    case ArraySort(ArrayDistinct(c), f, _) =>
      isDefaultComparator(f) && (c.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(ArrayIntersect(l, r), legacy)
          if !legacy && sortedDistinctLongs(l) && sortedDistinctLongs(r) =>
        SortedIntersectSize(l, r)
    }
}
