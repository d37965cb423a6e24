package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, Expression, PredicateHelper, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

import scala.collection.mutable

/** Whole-operator extension point (SURVEY.md §4.3 kind (c)): per-group
  * top-k as a first-class plan node.
  *
  * Why a custom operator at all: the declarative form
  * (`row_number() OVER (PARTITION BY g ORDER BY o) <= k`) shuffles EVERY
  * row of the input to its group's reducer before any row is discarded.
  * At 100 TB that shuffle is the job. This node plans as two phases —
  * a partial per-partition bounded-heap top-k BEFORE the exchange, then
  * a final top-k after it — so the shuffle carries at most
  * `k × groups × input-partitions` rows, the same asymmetry that makes
  * partial aggregation the default for `groupBy`. Spark has no built-in
  * partial reduction for window functions (a window is order-dependent
  * and general; top-k is the special case where one IS possible).
  *
  * Semantics: for each distinct value of `groupExprs`, emit the first
  * `k` child rows under `order` (ties broken by the order itself — pass
  * a total order, same discipline as every oracle query). Output schema
  * = child schema; no rank column is fabricated.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(groupExprs.nonEmpty, "TopKPerGroup needs at least one group expression")
  require(k >= 1, "TopKPerGroup needs k >= 1")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Optimizer rule: push deterministic conjuncts that reference only
  * group-key ATTRIBUTES below the top-k. Such a predicate is constant
  * within each group, so it removes whole groups — the per-group top-k
  * of the survivors is unchanged, and the pushed filter now prunes at
  * the scan instead of after the heap pass. (A predicate on a non-key
  * column must NOT move: dropping rows inside a group changes its
  * top-k.) Runs in the operator-optimization fixed point; converges
  * because the retained remainder never satisfies the push test.
  */
object PushFilterThroughTopK extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, t: TopKPerGroup) =>
      val keyAttrs = AttributeSet(t.groupExprs.collect { case a: Attribute => a })
      val (push, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.nonEmpty &&
          p.references.subsetOf(keyAttrs))
      if (push.isEmpty) f
      else {
        val pushed = t.copy(child = Filter(push.reduce(And), t.child))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Planner strategy: TopKPerGroup → partial exec (no distribution
  * requirement) under a final exec (ClusteredDistribution on the group
  * keys — EnsureRequirements inserts the hash exchange between them).
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      val partial = TopKPerGroupExec(g, o, k, partial = true, planLater(child))
      TopKPerGroupExec(g, o, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Physical per-partition top-k: one bounded max-heap of size ≤ k per
  * group key held in a hash map. Memory is O(groups-per-partition × k)
  * rows — the partial phase bounds what the exchange carries, the final
  * phase (one partition per key-range after the shuffle) bounds the
  * answer. Rows are UnsafeRow-copied on retention only (at most k live
  * copies per group, not one per input row).
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupExprs))

  override def outputPartitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val g = groupExprs
    val ord = order
    val kk = k
    val isPartial = partial
    val maxGroups = TopKPerGroupExec.partialMaxGroups
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(g, childOutput)
      val rowOrd: Ordering[InternalRow] = RowOrdering.create(ord, childOutput)
      // Max-heap per group keeps the k SMALLEST rows under the sort
      // order (rank 1 = first row of the frame, as row_number counts).
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      // Memory bound for the PARTIAL phase: at most `maxGroups` heaps
      // live; rows for keys beyond that stream straight through to the
      // exchange un-reduced — pass-through is always CORRECT for a
      // partial top-k (the final phase re-reduces), it just loses the
      // reduction for the overflow keys, which is the right degradation
      // for nearly-unique group keys. The FINAL phase cannot pass
      // through, but it runs after the hash exchange, so its group count
      // is total-groups / shuffle-partitions, the same bound a hash
      // aggregate lives with.
      val passThrough = iter.filter { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case Some(h) =>
            if (h.size < kk) h.enqueue(row.copy())
            else if (rowOrd.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
            false
          case None =>
            if (isPartial && heaps.size >= maxGroups) {
              true // emit un-reduced
            } else {
              val h = mutable.PriorityQueue.empty[InternalRow](rowOrd)
              h.enqueue(row.copy())
              heaps.put(key.copy(), h)
              false
            }
        }
      }
      // Emit each group's survivors in rank order (dequeueAll is
      // greatest-first off a max-heap) AFTER the pass-through stream
      // has been fully consumed (concat is lazy left-to-right).
      passThrough ++ heaps.valuesIterator.flatMap(h => h.dequeueAll.reverseIterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupExec {
  /** Partial-phase heap-map bound: ~2M retained rows worst case (heaps
    * × k) before overflow keys bypass reduction. Overridable for tests. */
  var partialMaxGroups: Int = 1 << 20
}
