package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Catalyst optimizer rule: bound edit-distance predicates.
  *
  * `levenshtein(a, b) <= k` in a Filter computes the FULL O(|a|·|b|) DP
  * for every row pair, even when the answer is knowable much earlier.
  * Two semantics-preserving rewrites, applied together:
  *
  *  1. LENGTH GUARD — `abs(length(a) - length(b)) <= k` is a necessary
  *     condition for distance ≤ k (each edit changes length by at most
  *     one) and costs O(1); hopeless pairs never reach the DP. In a
  *     blocked ER join (j26) most candidates that survive gram blocking
  *     but fail verification differ wildly in length — this guard
  *     rejects them for free.
  *  2. THRESHOLD FORM — the surviving pairs run Spark's
  *     `Levenshtein(a, b, threshold = k)`, whose banded DP abandons any
  *     row the moment the running minimum exceeds k (returns −1) —
  *     O(k·min(|a|,|b|)) instead of O(|a|·|b|). Because the bounded
  *     form encodes "over budget" as −1, the comparison is rewritten to
  *     `0 <= lev AND lev <= k`.
  *
  * NULL semantics are preserved: a null input nulls the length guard,
  * and `AND` of a null guard with the (also null) comparison drops the
  * row exactly as the original null comparison did. Idempotent under
  * the optimizer's fixed-point loop — the rewritten node carries a
  * defined threshold and no longer matches the pattern.
  * `LevenshteinRuleSpec` pins the answers against a plain Scala DP.
  */
object LevenshteinBoundRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f: Filter =>
      val rewritten = rewrite(f.condition)
      if (rewritten.fastEquals(f.condition)) f else f.copy(condition = rewritten)
  }

  private def bounded(a: Expression, b: Expression, k: Int,
      cmp: Expression => Expression): Expression = {
    val lev = Levenshtein(a, b, Some(Literal(k)))
    val lenGuard = LessThanOrEqual(
      Abs(Subtract(Length(a), Length(b))), Literal(k))
    And(lenGuard, And(GreaterThanOrEqual(lev, Literal(0)), cmp(lev)))
  }

  private def rewrite(e: Expression): Expression = e.transform {
    case LessThanOrEqual(Levenshtein(a, b, None), l @ Literal(k: Int, IntegerType))
        if k >= 0 =>
      bounded(a, b, k, lev => LessThanOrEqual(lev, l))
    case LessThan(Levenshtein(a, b, None), l @ Literal(k: Int, IntegerType))
        if k >= 1 =>
      bounded(a, b, k - 1, lev => LessThan(lev, l))
    case GreaterThanOrEqual(l @ Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 0 =>
      bounded(a, b, k, lev => LessThanOrEqual(lev, l))
    case GreaterThan(l @ Literal(k: Int, IntegerType), Levenshtein(a, b, None))
        if k >= 1 =>
      bounded(a, b, k - 1, lev => LessThan(lev, l))
  }
}
