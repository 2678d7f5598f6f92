package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.VariantType

/** Resolution-time dispatch (round 9): one `variant_get` name over BOTH
  * variant representations. Our SQL registration shadows Spark's
  * builtin session-wide (even `functions.variant_get` resolves by
  * name), so without this rule a native `VariantType` column — e.g.
  * read back from a parquet file Spark 4.1 wrote SHREDDED, which is
  * its default — could no longer be extracted by name. The dispatch:
  *
  *  - concrete target type → Spark's builtin
  *    [[org.apache.spark.sql.catalyst.expressions.variant.VariantGet]],
  *    which keeps Spark's `PushVariantIntoScan` applicable: the scan
  *    is rewritten to read ONLY the requested typed_value subcolumn of
  *    a shredded file (`v_shredded_interop` + PlanSpec pin the plan).
  *  - every other reader ([[VariantRead]], our-variant targets
  *    included) and `variant_to_json`, `variant_flatten` and
  *    `variant_explode` → the same expression over
  *    `from_spark_variant(child)`, staying in our codec. The conversion
  *    is byte-verbatim, so semantics are unchanged: a user switching a
  *    table to Spark's native VariantType keeps every query spelled with
  *    our function names.
  *
  * Runs at resolution so Spark's optimizer sees its own expression
  * before scan planning.
  *
  * Cross-representation semantics are pinned by
  * NativeDispatchDivergenceSpec: the same (json, path, type) must
  * extract identically whichever route it takes (cast-on-extract incl.
  * truncating non-integral numerics, missing paths, bracketed/quoted
  * path segments, lenient-mode NULLs). ONE accepted divergence:
  * decimal-to-STRING rendering — the builtin strips trailing zeros
  * ("3"), our codec preserves stored scale ("3.0"), a recorded
  * deviation (scale round-trips; the reference drops it,
  * read.rs:48-54) that the DuckDB oracle lanes pin.
  */
object NativeVariantDispatch extends Rule[LogicalPlan] {
  private def isNative(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    e.resolved && e.dataType.isInstanceOf[VariantType]

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveExpressions {
    case VariantRead(child, path, JsonConsumer.Cast(t, fail))
        if isNative(child) && !VariantSchema.isVariantStruct(t) =>
      new org.apache.spark.sql.catalyst.expressions.variant.VariantGet(
        child, Literal(path), t, fail, None)
    case e @ (_: VariantRead | _: VariantToJson | _: VariantFlatten | _: VariantExplode)
        if isNative(e.children.head) =>
      e.withNewChildren(Seq(FromSparkVariant(e.children.head)))
  }
}
