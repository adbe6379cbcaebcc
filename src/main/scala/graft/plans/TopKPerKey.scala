package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Group-wise top-k as a first-class operator (SURVEY.md §3 route (c):
  * custom LogicalPlan + Rule + Strategy + SparkPlan).
  *
  * `window(row_number).filter(rk <= k)` shuffles and sorts EVERY row of
  * every group. This operator runs per-partition bounded heaps first
  * (the "partial" phase, like partial aggregation), so at most
  * k × groups rows per partition ever reach the exchange — at 100 TB
  * with k=5 that is the difference between shuffling terabytes and
  * shuffling megabytes. The final phase sees clustered, sorted input
  * and just numbers the first k rows of each group.
  */
case class TopKPerKeyPlan(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

/** Deterministic filters on grouping keys commute with top-k — push
  * them below so they can keep descending toward the scan. A
  * nondeterministic filter (`rand() < 0.5` references no column at all)
  * stays above: below the top-k it would pick different survivors.
  */
object PushFilterThroughTopK extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond, t: TopKPerKeyPlan) if cond.deterministic &&
        cond.references.subsetOf(AttributeSet(t.groupExprs.flatMap(_.references))) =>
      t.copy(child = Filter(cond, t.child))
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(g, o, k, rank, child) =>
      TopKPerKeyFinalExec(g, o, k, rank,
        TopKPerKeyPartialExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Per-partition bounded heaps; no required distribution. */
case class TopKPerKeyPartialExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override protected def doExecute(): RDD[InternalRow] = {
    val groupEs = groupExprs
    val orderEs = orderExprs
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupEs, childOutput)
      // "first in sort order" = smallest under this ordering
      val ord = new LazilyGeneratedOrdering(orderEs, childOutput)
      // max-heap of the worst retained row per key
      val heaps = new java.util.HashMap[InternalRow,
        java.util.PriorityQueue[InternalRow]]()
      iter.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit + 1,
            ord.reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) heap.add(row.copy())
        else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      heaps.values().forEach(h => h.forEach(r => out += r))
      out.iterator
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyPartialExec =
    copy(child = newChild)
}

/** Requires clustering + sort; numbers the first k rows per group. */
case class TopKPerKeyFinalExec(
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    rankAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (groupExprs.map(SortOrder(_, Ascending)) ++ orderExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val groupEs = groupExprs
    val limit = k
    val childOutput = child.output
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupEs, childOutput)
      val outProj = UnsafeProjection.create(outAttrs, childOutput :+ rankAttr)
      val joined = new JoinedRow()
      val rankRow = new GenericInternalRow(1)
      var currentKey: InternalRow = null
      var rank = 0L
      iter.flatMap { row =>
        val key = keyProj(row)
        if (currentKey == null || key != currentKey) {
          currentKey = key.copy()
          rank = 0L
        }
        rank += 1
        if (rank <= limit) {
          rankRow.setLong(0, rank)
          Some(outProj(joined(row, rankRow)))
        } else None
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyFinalExec =
    copy(child = newChild)
}
