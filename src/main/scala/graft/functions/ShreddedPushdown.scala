package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Rewrite `variant_get(v, path, t)` to a direct column reference when
  * the plan already carries a shredded copy of that field (a column
  * marked by [[graft.operators.Shred]] with source/path metadata that
  * survives the parquet round trip). The payoff is the whole Dremel
  * story: the predicate/projection becomes a plain typed column, so
  * parquet min/max row-group pruning and filter pushdown fire, and the
  * variant blob is never decoded — on a 100 TB table the scan reads the
  * shredded column's bytes only.
  */
object ShreddedPushdownRule extends Rule[LogicalPlan] {

  private def shreddedIndex(attrs: Seq[Attribute]): Map[(String, String), Attribute] =
    attrs.flatMap { a =>
      val m = a.metadata
      if (m.contains(graft.operators.Shred.SHRED_SOURCE_KEY) &&
          m.contains(graft.operators.Shred.SHRED_PATH_KEY))
        Some((m.getString(graft.operators.Shred.SHRED_SOURCE_KEY),
          m.getString(graft.operators.Shred.SHRED_PATH_KEY)) -> a)
      else None
    }.toMap

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case node =>
      val childOut = node.children.flatMap(_.output)
      val index: Map[(String, String), Attribute] =
        if (childOut.isEmpty) Map.empty else shreddedIndex(childOut)
      if (index.isEmpty) node
      else {
        val childIds = childOut.map(_.exprId).toSet
        node.transformExpressions {
          // Lenient gets substitute freely (the column was materialized
          // with the same lenient casts). STRICT gets substitute only on
          // exact-marked columns: full-scan inference proved every value
          // at the path casts error-free to the column type, so strict
          // and lenient are indistinguishable there. A sampled shred
          // under a strict get keeps the decode — an unsampled row could
          // owe the user a cast error.
          case g @ VariantRead(attr: AttributeReference, path, JsonConsumer.Cast(t, failOnError))
              if childIds.contains(attr.exprId) =>
            index.get((attr.name, path)) match {
              // exact type match only: a cast could change null/error
              // semantics, and the shredder emits the lattice type anyway
              case Some(s) if s.dataType == t &&
                  (!failOnError ||
                    (s.metadata.contains(graft.operators.Shred.SHRED_EXACT_KEY) &&
                      s.metadata.getBoolean(graft.operators.Shred.SHRED_EXACT_KEY))) => s
              case _ => g
            }
        }
      }
  }
}
