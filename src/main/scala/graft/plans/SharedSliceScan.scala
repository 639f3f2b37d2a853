package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, BoundReference, EqualTo, Expression, In, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.trees.TreePattern.UNION
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Shared slice scan: a `Union` whose adjacent children are disjoint
  * equality slices of ONE opened relation reads that relation once.
  *
  * The reference serves a k-way merge from k row-key range scanners
  * over one table (`TimeSeriesEnumerator.scala:48-99`); each is cheap.
  * In Spark each file scan node costs the driver a fixed price (one
  * Hadoop-conf broadcast per node, and a stage or exchange of its
  * own), so a request that cuts several series from one handle
  * (`SeriesScan.scan(t, security = s1)`, `... = s2`) paid it once per
  * series. Sharing one table's scan among the queries that read it is
  * the idea of Cooperative Scans (Zukowski et al., VLDB 2007).
  *
  * Each maximal run of adjacent children
  * `Project(list_i, Filter(common ∧ a = l_i, rel))` fuses into one
  * child `Project(list_1, Filter(common ∧ a IN (l_1..l_k), rel))` in the
  * run's place. A run fuses only when
  *  - every child reads the same `relation` INSTANCE (one handle: two
  *    opens of one path may list different files),
  *  - the project lists (a bare `Filter` projects the relation's
  *    output) and the conjunct sets are equal once relation attributes
  *    are taken by position, and are deterministic, except for exactly
  *    one conjunct per child, `a = l_i` on the same column `a`,
  *  - the literals are non-null and pairwise distinct, and `a`'s SQL
  *    equality is value equality (integral, date, timestamp, boolean,
  *    binary-equality strings; never floating point, where
  *    `0.0 = -0.0`, nor a case- or trim-insensitive collation), so
  *    every row matches at most one slice and UNION ALL multiplicity
  *    is kept,
  *  - the union is not streaming.
  * The fused child's rows leave in the relation's scan order, not
  * slice by slice. A union whose children all fuse becomes the one
  * fused child, tagged (see `fused`) so that `SortedMergeUnionStrategy`
  * still plans a global sort over it as a one-task merge.
  */
object SharedSliceScan extends Rule[LogicalPlan] with PredicateHelper {

  /** Marks the one child that a fully fused union became. */
  private val Fused = TreeNodeTag[Unit]("graft.sharedSliceScan")

  /** Whether `plan` is the one child that a union of slices fused into. */
  def fused(plan: LogicalPlan): Boolean = plan.getTagValue(Fused).isDefined

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(UNION)) {
      case u: Union if !u.isStreaming && u.children.size > 1 =>
        fuse(u.children.toList) match {
          // a one-child union is not a valid plan; the fused child (a
          // new node) has the union's output, the first child's projection
          case one :: Nil =>
            one.setTagValue(Fused, ())
            one
          case fused if fused.size < u.children.size => u.copy(children = fused)
          case _ => u
        }
    }

  /** A union child of the form `[Project(list,)] Filter(cond, rel)`,
    * with its projection and conjuncts canonicalized over the
    * relation's columns by position. */
  private final class Slice(val plan: LogicalPlan, val filter: Filter,
      val rel: LogicalRelation, list: Seq[NamedExpression]) {
    private def norm(e: Expression): Expression = e.transform {
      case a: Attribute if rel.outputSet.contains(a) =>
        val i = rel.output.indexWhere(_.exprId == a.exprId)
        BoundReference(i, a.dataType, a.nullable)
    }.canonicalized
    val conjuncts: Seq[Expression] = splitConjunctivePredicates(filter.condition)
    val cond: Set[Expression] = conjuncts.map(norm).toSet
    val projection: Seq[Expression] = list.map {
      case a: Alias => norm(a.child)
      case e => norm(e)
    }
    val deterministic: Boolean =
      list.forall(_.deterministic) && conjuncts.forall(_.deterministic)

    /** `c`, one of this slice's conjuncts, as `a = l`: the position of
      * `a` in the relation and `l`. */
    def cut(c: Expression): Option[(Int, Literal)] = {
      def of(a: Attribute, l: Literal) = {
        val i = rel.output.indexWhere(_.exprId == a.exprId)
        Option.when(i >= 0 && l.value != null && l.dataType == a.dataType &&
          valueEquality(a.dataType))((i, l))
      }
      c match {
        case EqualTo(a: Attribute, l: Literal) => of(a, l)
        case EqualTo(l: Literal, a: Attribute) => of(a, l)
        case _ => None
      }
    }

    /** The conjunct whose canonical form is `n`. */
    def conjunct(n: Expression): Expression = conjuncts.find(norm(_) == n).get

    /** The filter with every conjunct whose canonical form is `n`
      * replaced by `by`. */
    def replaced(n: Expression, by: Expression): Filter =
      filter.copy(condition = conjuncts.map(c => if (norm(c) == n) by else c).reduce(And))

    def sameScan(o: Slice): Boolean =
      (rel.relation eq o.rel.relation) && deterministic && o.deterministic &&
        projection == o.projection
  }

  private object Slice {
    def unapply(p: LogicalPlan): Option[Slice] = p match {
      case Project(list, f @ Filter(_, rel: LogicalRelation)) => Some(new Slice(p, f, rel, list))
      case f @ Filter(_, rel: LogicalRelation) => Some(new Slice(p, f, rel, rel.output))
      case _ => None
    }
  }

  /** SQL equality on `t` is value equality: a row matches at most one
    * of several distinct literals. */
  private def valueEquality(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | BooleanType => true
    case s: StringType => Bridge.binaryEquality(s)
    case _ => false
  }

  /** `s`'s literal, if `s` slices column `col` of `first`'s scan with
    * the conjuncts `common` besides. */
  private def member(first: Slice, col: Int, common: Set[Expression])(s: Slice): Option[Literal] =
    (s.cond -- common).toSeq match {
      case Seq(c) if first.sameScan(s) && common.subsetOf(s.cond) =>
        s.cut(s.conjunct(c)).collect { case (`col`, l) => l }
      case _ => None
    }

  /** The run the first two of some children start, if they slice one
    * column: the first slice, the column's position and the conjuncts
    * the slices share. */
  private object Run {
    def unapply(children: List[LogicalPlan]): Option[(Slice, Int, Set[Expression])] =
      children match {
        case Slice(first) :: Slice(second) :: _ =>
          first.cond.iterator.flatMap { c =>
            first.cut(first.conjunct(c)).map { case (col, l) => (col, first.cond - c, l) }
          }.collectFirst {
            case (col, common, l) if member(first, col, common)(second).exists(_ != l) =>
              (first, col, common)
          }
        case _ => None
      }
  }

  /** `children` with each maximal run of slices of one column replaced
    * by its fused child. */
  private def fuse(children: List[LogicalPlan]): List[LogicalPlan] = children match {
    case Run(first, col, common) =>
      val sliceOf = member(first, col, common) _
      var lits = Vector.empty[Literal]
      var rest = children
      var next = sliceOf(first)
      while (next.exists(l => !lits.contains(l))) {
        lits :+= next.get
        rest = rest.tail
        next = rest.headOption.collect { case Slice(s) => s }.flatMap(sliceOf)
      }
      val fused = first.replaced((first.cond -- common).head, In(first.rel.output(col), lits))
      val child = first.plan match {
        case p: Project => p.copy(child = fused)
        case _ => fused
      }
      child :: fuse(rest)
    case head :: rest => head :: fuse(rest)
    case Nil => Nil
  }
}
