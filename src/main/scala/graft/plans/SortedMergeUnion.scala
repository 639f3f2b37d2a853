package graft.plans

import org.apache.spark.{OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, Union}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Sorted-merge union — the reference's core read-path algorithm as a
  * physical operator.
  *
  * The reference interleaves N time-sorted scanner streams by
  * min-head selection (`marketdb-iteratee/.../TimeSeriesEnumerator.scala:70-98`).
  * A merge is written as Spark's own global `Sort` over a `Union`, so
  * Catalyst prunes its columns, pushes filters into every child, drops
  * the sort where nothing reads the order and plans a limit over it as
  * a top-n. Only the physical choice is ours:
  *  - `SortedMergeUnionStrategy` plans a global sort over a union whose
  *    children each fit one task (stats-based, like broadcast-join
  *    planning) as the merge exec; anything else is left to Spark's own
  *    range-partitioned sort,
  *  - `SortedMergeUnionExec` declares `requiredChildOrdering` (children
  *    arrive sorted — a no-op if the source already is) and
  *    `outputOrdering` (downstream operators see the order for free),
  *    and merges the sorted children in one task with an O(n) k-way
  *    heap merge instead of re-sorting.
  */
object SortedMergeUnionStrategy extends SparkStrategy {
  /** Size bound for a plan that runs in one task: each child of the
    * single-partition merge, or the whole input of a single-partition
    * as-of window (overridable via -Dgraft.mergeSizeThreshold for
    * tests/tuning). */
  def mergeSizeThreshold: Long =
    java.lang.Long.getLong("graft.mergeSizeThreshold", 256L * 1024 * 1024)

  /** Whether `plan`'s estimated size fits [[mergeSizeThreshold]]. */
  private[graft] def fitsOneTask(plan: LogicalPlan): Boolean =
    plan.stats.sizeInBytes <= BigInt(mergeSizeThreshold)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, u: Union, _) if !u.isStreaming && u.children.forall(fitsOneTask) =>
      SortedMergeUnionExec(u.children.map(planLater), order) :: Nil
    case _ => Nil
  }
}

case class SortedMergeUnionExec(children: Seq[SparkPlan], orders: Seq[SortOrder])
    extends SparkPlan {

  override def output: Seq[Attribute] =
    SortedMergeUnionExec.unionOutput(children.map(_.output))
  override def outputOrdering: Seq[SortOrder] = orders
  override def outputPartitioning: Partitioning = SinglePartition
  // one partition per child, each sorted: EnsureRequirements inserts
  // the coalescing exchange / sort only where the child isn't already
  override def requiredChildDistribution: Seq[Distribution] =
    children.map(_ => AllTuples)
  // each child's ordering must reference THAT child's attributes:
  // the keys are written over the union's output, which shares exprIds
  // with the first child only, so they map onto each child by position
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    children.map { c =>
      val byPosition = AttributeMap(output.zip(c.output))
      orders.map(_.transform { case a: Attribute => byPosition.getOrElse(a, a) }
        .asInstanceOf[SortOrder])
    }

  override protected def doExecute(): RDD[InternalRow] = {
    // LazilyGeneratedOrdering serializes the expressions and
    // regenerates code on the executor (RowOrdering.create's product
    // is a non-serializable generated class); the closure must capture
    // only this (a SparkPlan itself is not serializable)
    val ordering =
      new org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering(
        orders, output)
    new ZippedChildrenRDD(children.map(_.execute()),
      SortedMergeUnionExec.mergeSorted(ordering))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan =
    copy(children = newChildren)
}

object SortedMergeUnionExec {
  /** The first child's attributes, nullable where any child's column
    * is (as `Union` computes them), so a column that a later child
    * null-fills reads back as null. */
  private[plans] def unionOutput(outputs: Seq[Seq[Attribute]]): Seq[Attribute] =
    outputs.transpose.map(as => as.head.withNullability(as.exists(_.nullable)))

  /** k-way merge of sorted InternalRow iterators by min-head selection
    * on a heap. Rows that compare equal leave in child order, then in
    * their child's order: the output of a left fold of 2-way merges
    * that take the left head on ties, with one comparison per heap
    * level instead of one per child. Heads are copied because operator
    * output rows may be reused by the producer. */
  private[graft] def mergeSorted(ord: Ordering[InternalRow])(
      inputs: Seq[Iterator[InternalRow]]): Iterator[InternalRow] = {
    val its = inputs.toIndexedSeq
    val heads = new Array[InternalRow](its.size)
    val heap = new java.util.PriorityQueue[Integer](math.max(1, its.size),
      (a: Integer, b: Integer) => {
        val c = ord.compare(heads(a), heads(b))
        if (c != 0) c else Integer.compare(a, b)
      })
    def pull(i: Int): Unit =
      if (its(i).hasNext) { heads(i) = its(i).next().copy(); heap.add(i) }
    its.indices.foreach(pull)
    new Iterator[InternalRow] {
      override def hasNext: Boolean = !heap.isEmpty
      override def next(): InternalRow = {
        val i: Int = heap.remove()
        val r = heads(i)
        pull(i)
        r
      }
    }
  }
}

/** A k-ary `zipPartitions`: partition i hands partition i of every
  * child, in child order, to `f`. */
private final class ZippedChildrenRDD(
    private var rdds: Seq[RDD[InternalRow]],
    f: Seq[Iterator[InternalRow]] => Iterator[InternalRow])
    extends RDD[InternalRow](rdds.head.context, rdds.map(new OneToOneDependency(_))) {

  override protected def getPartitions: Array[Partition] = {
    val n = rdds.head.partitions.length
    require(rdds.forall(_.partitions.length == n),
      s"children must have equal partition counts: ${rdds.map(_.partitions.length)}")
    Array.tabulate[Partition](n)(i => new ZippedChildrenPartition(i, rdds.map(_.partitions(i))))
  }

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val parents = split.asInstanceOf[ZippedChildrenPartition].parents
    f(rdds.zip(parents).map { case (rdd, p) => rdd.iterator(p, context) })
  }

  override def clearDependencies(): Unit = {
    super.clearDependencies()
    rdds = null
  }
}

private final class ZippedChildrenPartition(val index: Int, val parents: Seq[Partition])
    extends Partition
