package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule — the (c)-tier rung of the extension ladder
  * (SURVEY §7.3: compose built-ins > custom `Expression` (NormalizeWord) >
  * custom rule/plan): rewrite UNTHRESHOLDED Levenshtein comparisons
  * into Spark's banded threshold form, which abandons a row as soon
  * as the running edit distance exceeds the bound (O(k·n) band
  * instead of the O(n·m) full matrix, early exit) and returns -1 past
  * it. Semantics table (all distances are >= 0; null inputs yield
  * null on both sides of each rewrite):
  *
  *   lev(l,r) <= k              ⇔  lev(l,r,k) >= 0
  *   lev(l,r) <  k   (k >= 1)   ⇔  lev(l,r,k-1) >= 0
  *   a <= lev(l,r) <= b (a>=0)  ⇔  lev(l,r,b) >= a
  *     (if dist > b the threshold form yields -1, which fails >= a)
  *
  * A fuzzy-match predicate (q39) written naturally thus gets the
  * banded algorithm without the query author knowing it exists —
  * exactly what an optimizer rule is for. The rule only ever
  * REPLACES a comparison, never duplicates the expression, so
  * subexpression sharing is preserved; it no-ops on already
  * thresholded calls (idempotent under the fixed-point batch).
  * Registered through the public injectOptimizerRule (GraftExtensions
  * — no private APIs). */
object LevenshteinThresholdRule extends Rule[LogicalPlan] {
  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // BETWEEN: And(lev >= a, lev <= b) over the same inputs
      case And(GreaterThanOrEqual(Levenshtein(l1, r1, None), IntLit(a)),
               LessThanOrEqual(Levenshtein(l2, r2, None), IntLit(b)))
          if a >= 0 && b >= a && l1.semanticEquals(l2) && r1.semanticEquals(r2) =>
        GreaterThanOrEqual(Levenshtein(l1, r1, Some(Literal(b))), Literal(a))
      case LessThanOrEqual(Levenshtein(l, r, None), IntLit(k)) if k >= 0 =>
        GreaterThanOrEqual(Levenshtein(l, r, Some(Literal(k))), Literal(0))
      case LessThan(Levenshtein(l, r, None), IntLit(k)) if k >= 1 =>
        GreaterThanOrEqual(Levenshtein(l, r, Some(Literal(k - 1))), Literal(0))
    }
}
