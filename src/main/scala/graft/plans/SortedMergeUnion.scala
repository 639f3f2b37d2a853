package graft.plans

import org.apache.spark.{OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Sorted-merge union — the reference's core read-path algorithm as a
  * first-class physical operator.
  *
  * The reference interleaves N time-sorted scanner streams by
  * min-head selection (`marketdb-iteratee/.../TimeSeriesEnumerator.scala:70-98`).
  * Catalyst's default plan for "union then global time order" is
  * Union + Sort (full re-sort). When the inputs are already sorted —
  * per-series scans of a `TimeSeriesTable` are — an O(n) k-way merge
  * preserves the order without sorting.
  *
  * Pieces (SURVEY §2-custom preference (c)):
  *  - `SortedMergeUnion` logical node,
  *  - `SortedMergeUnionStrategy` plans it: the merge exec when every
  *    child is small enough to sit in one partition (stats-based
  *    decision, like broadcast-join planning); otherwise falls back to
  *    Union + global Sort, which range-partitions across the cluster,
  *  - `SortedMergeUnionExec` physical node declaring
  *    `requiredChildOrdering` (children arrive sorted — a no-op if the
  *    source already is) and `outputOrdering` (downstream operators
  *    see the order for free, e.g. a subsequent limit or as-of probe).
  */
case class SortedMergeUnion(children: Seq[LogicalPlan], timeCol: String,
    tieCols: Seq[String] = Nil)
    extends LogicalPlan {
  require(children.nonEmpty, "SortedMergeUnion needs at least one child")
  /** Merge key columns: time first, then optional tiebreaks. With
    * tiebreaks forming a per-child total order, merge + limit returns a
    * deterministic row set (hard rule 4); without them, tie order
    * between equal timestamps is unspecified (reference semantics). */
  def orderCols: Seq[String] = timeCol +: tieCols
  override def output: Seq[Attribute] =
    SortedMergeUnionExec.unionOutput(children.map(_.output))
  // declare every column of EVERY child as referenced: Spark's column
  // pruning matches columns by exprId, which only the first child
  // shares with the output, so it would leave the children with
  // different columns; SortedMergeUnionPruning prunes by position
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(children.flatMap(_.output))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): LogicalPlan =
    copy(children = newChildren)
}

/** Drops merge work that nothing reads, as Spark's `ColumnPruning` and
  * `EliminateSorts` do for `Union` and `Sort`. Under a projection every
  * child of a [[SortedMergeUnion]] keeps, by position, only the columns
  * the projection or the merge keys use. Under a count, min or max,
  * through deterministic projections and filters, nothing reads the
  * merge order, so the merge is the plain `Union` of its children. */
object SortedMergeUnionPruning extends Rule[LogicalPlan] {
  private def orderFree(a: Aggregate): Boolean = a.aggregateExpressions
    .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })
    .forall(f => f.isInstanceOf[Count] || f.isInstanceOf[Min] || f.isInstanceOf[Max])

  private def unordered(p: LogicalPlan): LogicalPlan = p match {
    case s: SortedMergeUnion => Union(s.children)
    case _: Project | _: Filter if p.expressions.forall(_.deterministic) =>
      p.withNewChildren(p.children.map(unordered))
    case _ => p
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(_, s: SortedMergeUnion) =>
      val keep = s.output.indices.filter { i =>
        p.references.contains(s.output(i)) || s.orderCols.contains(s.output(i).name)
      }
      if (keep.size == s.output.size) p
      else p.copy(child = s.copy(children = s.children.map(c => Project(keep.map(c.output), c))))
    case a: Aggregate if orderFree(a) => a.withNewChildren(a.children.map(unordered))
  }
}

/** Plans the merge in one partition when every child [[fitsOneTask]];
  * the same predicate sends a small `AsOfJoin` window to one partition. */
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
    case s @ SortedMergeUnion(children, _, _) =>
      val orders = s.orderCols.map { name =>
        val attr = s.output.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"merge column $name not in ${s.output.map(_.name)}"))
        SortOrder(attr, Ascending)
      }
      if (children.forall(fitsOneTask)) {
        SortedMergeUnionExec(children.map(planLater), orders) :: Nil
      } else {
        // distributed fallback: union + global sort (range partition);
        // built from physical building blocks so the same logical node
        // covers both scales
        import org.apache.spark.sql.execution.{SortExec, UnionExec}
        SortExec(orders, global = true,
          UnionExec(children.map(planLater))) :: Nil
      }
    case _ => Nil
  }
}

case class SortedMergeUnionExec(children: Seq[SparkPlan], orders: Seq[SortOrder])
    extends SparkPlan {

  private val orderNames: Seq[String] = orders.map(_.child match {
    case a: Attribute => a.name
    case other => other.sql
  })

  override def output: Seq[Attribute] =
    SortedMergeUnionExec.unionOutput(children.map(_.output))
  override def outputOrdering: Seq[SortOrder] = orders
  override def outputPartitioning: Partitioning = SinglePartition
  // one partition per child, each sorted: EnsureRequirements inserts
  // the coalescing exchange / sort only where the child isn't already
  override def requiredChildDistribution: Seq[Distribution] =
    children.map(_ => AllTuples)
  // each child's ordering must reference THAT child's attributes
  // (schemas are name-aligned, exprIds are not)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    children.map { c =>
      orderNames.map { name =>
        val attr = c.output.find(_.name == name).getOrElse(
          throw new IllegalStateException(s"$name missing in child output"))
        SortOrder(attr, Ascending)
      }
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
