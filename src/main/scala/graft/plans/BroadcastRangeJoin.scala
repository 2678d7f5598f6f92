package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.LongType

/** Broadcast range join as a first-class operator: stream rows carrying
  * a POINT `p` join interval rows `[lo, hi]` on containment
  * (`lo <= p AND p <= hi`) with NO equi-key. Spark has no physical
  * strategy for a pure inequality join — it plans
  * BroadcastNestedLoopJoin, which evaluates the predicate against EVERY
  * interval for EVERY stream row: O(n·m) predicate evaluations, the
  * classic range-join cliff (the reason Databricks ships a range-join
  * binning hint).
  *
  * This operator does what a database does: sort the (small) interval
  * side by `lo` once at build, record the maximum interval LENGTH, and
  * answer each stream row with a binary search — candidates are exactly
  * the intervals with `lo ∈ [p - maxLen, p]`, verified against `hi`.
  * Per-row cost O(log m + candidates) instead of O(m); the stream side
  * keeps its partitioning (no shuffle, no sort), the interval side
  * ships once per executor as a broadcast. Degradation is graceful: one
  * giant interval makes maxLen the whole domain and the scan widens
  * back toward O(m) — same behavior as binning with one oversized bin.
  *
  * Points/bounds are BIGINT (epoch micros or any monotone key) — the
  * caller casts; NULL points and NULL-bounded intervals drop, matching
  * SQL comparison semantics in the BNLJ formulation it replaces.
  *
  * Why it stays against the BNLJ formulation: README, "Decisions".
  */
case class BroadcastRangeJoin(
    point: Expression,
    lo: Expression,
    hi: Expression,
    left: LogicalPlan,
    right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class BroadcastRangeJoinExec(
    point: Expression,
    lo: Expression,
    hi: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {
  require(point.dataType == LongType && lo.dataType == LongType &&
    hi.dataType == LongType,
    s"broadcast_range_join needs BIGINT point/bounds, got " +
      s"${point.dataType.simpleString}/${lo.dataType.simpleString}/${hi.dataType.simpleString}")

  override def output: Seq[Attribute] = left.output ++ right.output
  override def nodeName: String = "BroadcastRangeJoin"
  override def outputPartitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // Build phase (driver): the interval side is small by contract —
    // this IS the broadcast build, the same executeCollect a
    // BroadcastHashJoin's build side performs via its exchange.
    val boundsProj = UnsafeProjection.create(Seq(lo, hi), right.output)
    val intervals = right.executeCollect().flatMap { r =>
      val b = boundsProj(r)
      if (b.isNullAt(0) || b.isNullAt(1)) None
      else Some((b.getLong(0), b.getLong(1), r.copy().asInstanceOf[UnsafeRow]))
    }.filter { case (l, h, _) => l <= h }
      .sortBy(_._1)
    val loArr = intervals.map(_._1)
    val hiArr = intervals.map(_._2)
    val rowArr = intervals.map(_._3)
    val maxLen = if (intervals.isEmpty) 0L
      else intervals.map(t => t._2 - t._1).max
    val bc = sparkContext.broadcast((loArr, hiArr, rowArr, maxLen))

    val localPoint = point
    val leftOutput = left.output
    val resultSchema = output
    left.execute().mapPartitions { iter =>
      val (los, his, rows, mlen) = bc.value
      val pProj = UnsafeProjection.create(Seq(localPoint), leftOutput)
      val joined = new JoinedRow()
      val result = UnsafeProjection.create(resultSchema, resultSchema)
      // first index with los(i) >= key (lower bound)
      def lowerBound(key: Long): Int = {
        var a = 0; var b = los.length
        while (a < b) {
          val mid = (a + b) >>> 1
          if (los(mid) < key) a = mid + 1 else b = mid
        }
        a
      }
      iter.flatMap { row =>
        val pr = pProj(row)
        if (pr.isNullAt(0) || los.isEmpty) Iterator.empty
        else {
          val p = pr.getLong(0)
          var i = lowerBound(p - mlen)
          val end = {
            // first index with lo > p == lowerBound(p + 1)
            var a = i; var b = los.length
            while (a < b) {
              val mid = (a + b) >>> 1
              if (los(mid) < p + 1) a = mid + 1 else b = mid
            }
            a
          }
          val out = Vector.newBuilder[InternalRow]
          while (i < end) {
            if (his(i) >= p) out += result(joined(row, rows(i))).copy()
            i += 1
          }
          out.result().iterator
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object BroadcastRangeJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{Expression => E, _}
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.Join

  /** Decompose `cond` into (point-on-left, lower-bound-on-right,
    * upper-bound-on-right) if it is EXACTLY a two-sided containment —
    * `p >= lo AND p <= hi` in any literal arrangement (BETWEEN parses
    * to this). Strict bounds, extra conjuncts, or non-BIGINT types
    * bail: this strategy must never fire where its semantics are not
    * the join's semantics.
    */
  private def containment(cond: E, left: LogicalPlan, right: LogicalPlan):
      Option[(E, E, E)] = {
    def onLeft(e: E) = e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def onRight(e: E) = e.references.nonEmpty && e.references.subsetOf(right.outputSet)
    // normalize to (point, bound, boundIsLower)
    def norm(e: E): Option[(E, E, Boolean)] = e match {
      case GreaterThanOrEqual(p, b) if onLeft(p) && onRight(b) => Some((p, b, true))
      case LessThanOrEqual(b, p) if onLeft(p) && onRight(b) => Some((p, b, true))
      case LessThanOrEqual(p, b) if onLeft(p) && onRight(b) => Some((p, b, false))
      case GreaterThanOrEqual(b, p) if onLeft(p) && onRight(b) => Some((p, b, false))
      case _ => None
    }
    splitConjunctivePredicates(cond) match {
      case a :: b :: Nil =>
        (norm(a), norm(b)) match {
          case (Some((p1, lo, true)), Some((p2, hi, false)))
              if p1.semanticEquals(p2) && p1.dataType == LongType &&
                lo.dataType == LongType && hi.dataType == LongType =>
            Some((p1, lo, hi))
          case (Some((p1, hi, false)), Some((p2, lo, true)))
              if p1.semanticEquals(p2) && p1.dataType == LongType &&
                lo.dataType == LongType && hi.dataType == LongType =>
            Some((p1, lo, hi))
          case _ => None
        }
      case _ => None
    }
  }

  private def smallEnough(right: LogicalPlan,
                          hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint): Boolean = {
    val hinted = hint.rightHint.exists(_.strategy.contains(
      org.apache.spark.sql.catalyst.plans.logical.BROADCAST))
    val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    hinted || (threshold > 0 && right.stats.sizeInBytes >= 0 &&
      right.stats.sizeInBytes <= threshold)
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: BroadcastRangeJoin =>
      BroadcastRangeJoinExec(j.point, j.lo, j.hi,
        planLater(j.left), planLater(j.right)) :: Nil
    // transparent SQL path: a plain INNER join whose whole condition is
    // BIGINT containment of a left point in a small right interval side
    // plans as the sorted-broadcast range join instead of BNLJ — users
    // write `ON t BETWEEN lo AND hi` and get the fast operator
    case Join(left, right, Inner, Some(cond), hint) if smallEnough(right, hint) =>
      containment(cond, left, right) match {
        case Some((p, lo, hi)) =>
          BroadcastRangeJoinExec(p, lo, hi, planLater(left), planLater(right)) :: Nil
        case None => Nil
      }
    case _ => Nil
  }
}
