package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BoundReference, Expression, JoinedRow, RowOrdering, SortOrder, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** What [[GlobalRankExec]] assigns to each row, in `order`. */
sealed abstract class RankKind
object RankKind {
  /** `row_number()`: a partition contributes its row count. */
  case object RowNumber extends RankKind
  /** `rank()`: 1 + the rows before my peer group; a partition
    * contributes its row count. */
  case object Rank extends RankKind
  /** `dense_rank()`: a partition contributes its peer-group count
    * (range partitioning never splits a peer group). */
  case object DenseRank extends RankKind
  /** Exclusive running sum of a LongType value (NULL adds 0); a
    * partition contributes its sum. */
  case object CumSum extends RankKind
}

/** A global rank of `child`'s rows in `order`, appended as the
  * non-null LongType column `out`. `value` is the summand of
  * [[RankKind.CumSum]] (LongType) and absent otherwise. */
case class GlobalRankNode(kind: RankKind, order: Seq[SortOrder],
                          value: Option[Expression], out: Attribute,
                          child: LogicalPlan) extends UnaryNode {
  require(value.isDefined == (kind == RankKind.CumSum),
    s"$kind ${if (value.isDefined) "takes no" else "needs a"} value")
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

/** Range-partitioned global rank over ONE materialization of its input.
  *
  * The required distribution and ordering make EnsureRequirements put
  * exactly one range exchange and one local sort under this node;
  * partitions then hold ascending, disjoint key ranges and a peer
  * group never straddles two of them. `doExecute` reads
  * `child.execute()` once: a `runJob` over that RDD returns each
  * partition's total (see [[RankKind]]), which are turned into
  * exclusive prefix sums, and a pass over the SAME RDD emits
  * `offset(partition) + local value`. Both jobs read one shuffle
  * output through the same (possibly AQE-coalesced) partitions, so a
  * partition's offset always describes the rows it emits. The totals
  * job re-runs the local sort — the one remaining second pass.
  *
  * Peers compare by the sort order (compare == 0), as the window rank
  * functions do, not by row bytes. */
case class GlobalRankExec(kind: RankKind, order: Seq[SortOrder],
                          value: Option[Expression], out: Attribute,
                          child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(order))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val rows = child.execute()
    val (k, o, v, in) = (kind, order, value, child.output)
    val totals = sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
      val local = new LocalRank(k, o, v, in)
      it.foreach(local.next)
      local.total
    })
    val offsets = totals.scanLeft(0L)(_ + _)
    val outSchema = output
    rows.mapPartitionsWithIndex { (pid, it) =>
      val local = new LocalRank(k, o, v, in)
      val offset = offsets(pid)
      val rank = new SpecificInternalRow(Seq(LongType))
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outSchema, outSchema)
      it.map { row =>
        rank.setLong(0, offset + local.next(row))
        project(joined(row, rank))
      }
    }
  }
}

/** One partition's local ranks, fed its rows in sort order: `next`
  * returns the row's partition-local value, `total` the partition's
  * contribution to the offsets of the partitions after it. */
private final class LocalRank(kind: RankKind, order: Seq[SortOrder],
                              value: Option[Expression], input: Seq[Attribute]) {
  private var rows = 0L
  private var groupStart = 0L
  private var groups = 0L
  private var sum = 0L

  // built on first use: only the kinds that read them compile them
  private lazy val keyOf = UnsafeProjection.create(order.map(_.child), input)
  private lazy val keyOrdering = RowOrdering.create(order.zipWithIndex.map {
    case (s, i) => s.copy(child = BoundReference(i, s.dataType, s.nullable))
  }, Nil)
  private var prevKey: UnsafeRow = _
  private lazy val valueOf = UnsafeProjection.create(value.toSeq, input)

  /** True when `row` starts a new peer group. */
  private def newGroup(row: InternalRow): Boolean = {
    val key = keyOf(row)
    val fresh = prevKey == null || keyOrdering.compare(prevKey, key) != 0
    if (fresh) prevKey = key.copy()
    fresh
  }

  def next(row: InternalRow): Long = kind match {
    case RankKind.RowNumber => rows += 1; rows
    case RankKind.Rank =>
      rows += 1
      if (newGroup(row)) groupStart = rows
      groupStart
    case RankKind.DenseRank =>
      if (newGroup(row)) groups += 1
      groups
    case RankKind.CumSum =>
      val before = sum
      val x = valueOf(row)
      if (!x.isNullAt(0)) sum += x.getLong(0)
      before
  }

  def total: Long = kind match {
    case RankKind.RowNumber | RankKind.Rank => rows
    case RankKind.DenseRank => groups
    case RankKind.CumSum => sum
  }
}

object GlobalRankStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalRankNode(kind, order, value, out, child) =>
      GlobalRankExec(kind, order, value, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
