package graft.plans

import org.apache.spark.sql.catalyst.expressions.{If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.functions.{KernelCall, KernelTable}

/**
 * Catalyst optimizer rules for the graft expression family.
 *
 * SelfHammingRule: hamming64(x, x) ≡ 0 for any deterministic x (x XOR x is
 * always 0), so the per-row popcount — and potentially the evaluation of x
 * itself — folds to a literal. This shape appears when dedup pipelines join
 * candidate tables back to themselves and compare signatures.
 *
 * Null semantics: hamming64 is null-intolerant, so hamming64(NULL, NULL) is
 * NULL (e.g. signatures arriving through an outer join). Folding to a bare 0
 * would change results for nullable inputs — those fold to
 * IF(x IS NULL, NULL, 0) instead, which still skips the XOR/popcount and
 * the (possibly expensive) second evaluation of x.
 */
object SelfHammingRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case KernelCall(KernelTable.hamming64, _, Seq(a, b))
        if a.deterministic && a.semanticEquals(b) =>
      if (a.nullable) If(IsNull(a), Literal(null, IntegerType), Literal(0, IntegerType))
      else Literal(0, IntegerType)
  }
}
