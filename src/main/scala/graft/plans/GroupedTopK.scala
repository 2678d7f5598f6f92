package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Grouped top-k as a first-class operator (logical node + planner
  * strategy + physical exec) — the whole-operator extension point the
  * build plan reserves for semantics Spark's primitives can't express
  * EFFICIENTLY (SURVEY §4.2: custom `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan` via `SparkSessionExtensions`).
  *
  * The composed formulation (`row_number().over(partitionBy(g).orderBy(o))
  * .filter(rn <= k)`) shuffles EVERY row to its group's partition and
  * sorts entire groups before discarding all but k rows. This operator
  * runs a bounded per-group heap BEFORE the exchange (the map-side
  * combine shape, but for order statistics): each input partition
  * forwards at most k rows per group it saw, so the shuffle carries
  * ≤ k·groups·partitions rows instead of everything — at 100 TB the
  * difference between shuffling the table and shuffling the answer.
  * The same exec runs again after the exchange for the exact per-group
  * result (heap merge is associative, like partial aggregation).
  *
  * Ties: callers must make `order` a TOTAL order within each group
  * (append a unique tiebreaker) — same contract as any deterministic
  * top-k, enforced nowhere because only the caller knows the keys.
  *
  * Why it stays against the window formulation: README, "Decisions".
  */
case class GroupedTopK(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0 && k <= (1 << 20), s"k out of range: $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class GroupedTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopKFinal"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val localGroup = groupExprs
    val localOrder = order
    val localK = k
    val childOutput = child.output
    // serializable, codegen-compiles lazily inside the task (the same
    // vehicle TakeOrderedAndProject ships its ordering with)
    val ordering = new LazilyGeneratedOrdering(localOrder, childOutput)
    child.execute().mapPartitions { iter =>
      val proj = UnsafeProjection.create(localGroup, childOutput)
      // head of the queue = WORST surviving row (reversed comparator),
      // so a bounded insert is peek/poll
      val rev = new java.util.Comparator[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ordering.compare(b, a)
      }
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      while (iter.hasNext) {
        val row = iter.next().asInstanceOf[UnsafeRow]
        val key = proj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[UnsafeRow](localK + 1, rev)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < localK) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Plans GroupedTopK as partial → (exchange via EnsureRequirements) →
  * final, exactly the two-phase shape of hash aggregation. */
object GroupedTopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GroupedTopK =>
      GroupedTopKExec(g.groupExprs, g.order, g.k, partial = false,
        GroupedTopKExec(g.groupExprs, g.order, g.k, partial = true,
          planLater(g.child))) :: Nil
    case _ => Nil
  }
}
