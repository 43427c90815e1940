package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CoGroupedIterator, GroupedIterator, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, StructField}
import graft.operators.Smoothing.keyCols

/** The one per-channel operator of the batch signal spine: smoothing,
  * envelopes, peak detection and beat metrics are its kernels. Built
  * like [[AsofJoinPlan]]: a logical node ([[ChannelNode]], or
  * [[ChannelPeaksNode]] for the binary form), [[ChannelStrategy]]
  * injected by `GraftExtensions`, and an exec over `InternalRow`.
  *
  *  - Input: the exec requires `ClusteredDistribution(keys)` and input
  *    sorted by the keys, takes each channel as one group and lays it out
  *    by `sample_idx`, so a kernel reads sample i at row i.
  *  - Output: the child attributes it keeps, with their ids, plus fresh
  *    ones for the produced columns. It reports the child's partitioning
  *    and key ordering, so stacked kernels share one Exchange and one
  *    Sort. The binary form takes the peak side's partitioning, so an
  *    aggregate by channel over its output plans no Exchange.
  *  - Column pruning: a node declares the child columns its kernel
  *    reads, so `ColumnPruning` keeps them under any projection.
  *
  * Precondition: `sample_idx` is dense and 0-based per channel. A
  * channel that breaks it fails the job with an error naming it.
  *
  * Null keys: a row with a null key belongs to no channel. It reaches no
  * kernel and skips the precondition; a per-sample kernel keeps the row
  * with null produced columns, every other kernel drops it.
  *
  * Requires the session to carry `GraftExtensions`; without it building
  * the node fails with an error saying so.
  */
object ChannelPlan {

  /** `df` plus `out`: `kernel` yields one row of `out` per sample. */
  def perSample(df: DataFrame, kernel: ChannelKernel, reads: Seq[String],
                out: Seq[StructField]): DataFrame =
    unary(df, kernel, perSample = true, reads, out)

  /** The keys plus `out`: `kernel` yields any number of rows per
    * channel. Only the keys, `sample_idx` and `reads` enter the operator.
    */
  def perChannel(df: DataFrame, kernel: ChannelKernel, reads: Seq[String],
                 out: Seq[StructField]): DataFrame =
    unary(narrow(df, reads), kernel, perSample = false, reads, out)

  /** `peaks` (its keys cast to `df`'s key types, and `peakReads`) plus
    * `out` for each peak row `kernel` yields. Peaks of a null key or of
    * a channel absent from `df` yield nothing.
    */
  def withPeaks(df: DataFrame, peaks: DataFrame, kernel: PeaksKernel,
                reads: Seq[String], peakReads: Seq[String],
                out: Seq[StructField]): DataFrame = {
    val ch = plan(narrow(df, reads))
    // fresh ids on the peak side: peaks derived from `df` share its key
    // attributes, and the analyzer would re-alias them under the node
    val pk = plan(peaks.select(keyCols.map { k =>
      val t = df.schema(k).dataType
      (if (peaks.schema(k).dataType == t) col(k) else col(k).cast(t)).as(k)
    } ++ peakReads.map(c => col(c).as(c)): _*))
    ColumnBridge.ofRows(df.sparkSession, ChannelPeaksNode(kernel,
      keyCols.map(attr(ch, _)), attr(ch, "sample_idx"), reads.map(attr(ch, _)),
      keyCols.map(attr(pk, _)), peakReads.map(attr(pk, _)), fresh(out), ch, pk))
  }

  private def unary(df: DataFrame, kernel: ChannelKernel, perSample: Boolean,
                    reads: Seq[String], out: Seq[StructField]): DataFrame = {
    val p = plan(df)
    ColumnBridge.ofRows(df.sparkSession, ChannelNode(kernel, perSample,
      keyCols.map(attr(p, _)), attr(p, "sample_idx"), reads.map(attr(p, _)), fresh(out), p))
  }

  private def narrow(df: DataFrame, reads: Seq[String]): DataFrame =
    df.select((keyCols ++ ("sample_idx" +: reads).distinct).map(col): _*)

  private def plan(df: DataFrame): LogicalPlan = {
    if (!df.sparkSession.sessionState.planner.strategies.contains(ChannelStrategy))
      throw new IllegalStateException(
        "the channel operator needs graft.plans.GraftExtensions on the session " +
          "(spark.sql.extensions): its planner has no ChannelStrategy")
    ColumnBridge.analyzed(df)
  }

  private def attr(p: LogicalPlan, name: String): Attribute =
    p.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"channel column '$name' not in ${p.output.map(_.name)}"))

  private def fresh(out: Seq[StructField]): Seq[Attribute] =
    out.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
}

/** A kernel's view of rows: column j is the kernel's j-th declared read. */
final class Rows private[plans] (rows: Array[InternalRow], ords: Array[Int],
                                  types: Array[DataType]) {
  def n: Int = rows.length
  private[plans] def row(i: Int): InternalRow = rows(i)
  def isNull(i: Int, j: Int): Boolean = rows(i).isNullAt(ords(j))
  def get(i: Int, j: Int): Any = rows(i).get(ords(j), types(j))

  /** Column j of row i as a double; null reads as NaN, as scipy sees a
    * missing value.
    */
  def double(i: Int, j: Int): Double =
    if (isNull(i, j)) Double.NaN
    else if (types(j) == DoubleType) rows(i).getDouble(ords(j))
    else get(i, j) match {
      case d: Decimal => d.toDouble
      case x => x.asInstanceOf[Number].doubleValue
    }

  def doubles(j: Int): Array[Double] = Array.tabulate(n)(double(_, j))
}

object Rows {
  /** One row of produced columns. */
  def of(values: Any*): InternalRow = new GenericInternalRow(values.toArray)
}

/** What the channel operator computes over one channel, given laid out
  * by `sample_idx`. A per-sample kernel yields one row of its produced
  * columns per sample, in sample order; any other yields rows that
  * follow the channel's key. Kernels are case classes, so that two nodes
  * with equal parameters plan and cache alike.
  */
trait ChannelKernel extends Serializable {
  def apply(ch: Rows): Iterator[InternalRow]
}

/** The binary form: a channel and its peak rows (in no order). Yields
  * (peak row, produced columns) for each peak row that has output.
  */
trait PeaksKernel extends Serializable {
  def apply(ch: Rows, peaks: Rows): Iterator[(Int, InternalRow)]
}

case class ChannelNode(kernel: ChannelKernel, perSample: Boolean,
                       keys: Seq[Attribute], index: Attribute, reads: Seq[Attribute],
                       produced: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = (if (perSample) child.output else keys) ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override protected def stringArgs: Iterator[Any] = Iterator(kernel, keys, produced)
  override protected def withNewChildInternal(c: LogicalPlan): ChannelNode = copy(child = c)
}

case class ChannelPeaksNode(kernel: PeaksKernel, keys: Seq[Attribute], index: Attribute,
                            reads: Seq[Attribute], peakKeys: Seq[Attribute],
                            peakReads: Seq[Attribute], produced: Seq[Attribute],
                            left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = right.output ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override protected def stringArgs: Iterator[Any] = Iterator(kernel, keys, produced)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): ChannelPeaksNode =
    copy(left = l, right = r)
}

object ChannelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ChannelNode(k, each, keys, idx, reads, out, child) =>
      ChannelExec(k, each, keys, idx, reads, out, planLater(child)) :: Nil
    case ChannelPeaksNode(k, keys, idx, reads, pkeys, preads, out, l, r) =>
      ChannelPeaksExec(k, keys, idx, reads, pkeys, preads, out, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Binds a kernel's declared reads to a child's row layout (built on
  * the driver, shipped with the task).
  */
private[plans] final case class Layout(reads: Seq[Attribute], input: Seq[Attribute]) {
  private def ord(a: Attribute): Int = {
    val i = input.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"channel column ${a.name} not in the child's output")
    i
  }
  private val ords = reads.map(ord).toArray
  private val types = reads.map(_.dataType).toArray

  def rows(rs: Array[InternalRow]): Rows = new Rows(rs, ords, types)

  /** The rows of the channel `key` laid out by `index`, which must be
    * dense and 0-based.
    */
  def channel(keys: Seq[Attribute], key: InternalRow, index: Attribute,
              group: Iterator[InternalRow]): Rows = {
    val at = ord(index)
    val all = group.map(_.copy()).toArray
    val n = all.length
    val byIdx = new Array[InternalRow](n)
    all.foreach { r =>
      val v = r.get(at, index.dataType)
      val i = v match { case x: Number => x.longValue; case _ => -1L }
      if (i < 0 || i >= n || byIdx(i.toInt) != null) {
        val named = keys.indices.map(k => s"${keys(k).name}=${key.get(k, keys(k).dataType)}")
        throw new IllegalArgumentException(
          s"the signal spine needs a dense 0-based sample_idx per channel: channel " +
            s"(${named.mkString(", ")}) has $n rows " +
            s"but sample_idx $v is ${if (i >= 0 && i < n) "repeated" else "out of range"}")
      }
      byIdx(i.toInt) = r
    }
    rows(byIdx)
  }
}

case class ChannelExec(kernel: ChannelKernel, perSample: Boolean,
                       keys: Seq[Attribute], index: Attribute, reads: Seq[Attribute],
                       produced: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = (if (perSample) child.output else keys) ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(keys.map(SortOrder(_, Ascending)))
  // the child's, unless it names a column the output drops
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression if !p.references.subsetOf(outputSet) => UnknownPartitioning(p.numPartitions)
    case p => p
  }
  override def outputOrdering: Seq[SortOrder] = keys.map(SortOrder(_, Ascending))
  override protected def stringArgs: Iterator[Any] = Iterator(kernel, keys, produced)
  override protected def withNewChildInternal(c: SparkPlan): ChannelExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val (k, each, ks, idx, in, out) = (kernel, perSample, keys, index, child.output, output)
    val layout = Layout(reads, in)
    val blank = new GenericInternalRow(produced.length)
    child.execute().mapPartitions { iter =>
      val proj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      GroupedIterator(iter, ks, in).flatMap { case (key, group) =>
        if (key.anyNull) {
          if (each) group.map(r => proj(joined(r, blank))) else Iterator.empty
        } else {
          val ch = layout.channel(ks, key, idx, group)
          if (each) k(ch).zipWithIndex.map { case (p, i) => proj(joined(ch.row(i), p)) }
          else k(ch).map(p => proj(joined(key, p)))
        }
      }
    }
  }
}

case class ChannelPeaksExec(kernel: PeaksKernel, keys: Seq[Attribute], index: Attribute,
                            reads: Seq[Attribute], peakKeys: Seq[Attribute],
                            peakReads: Seq[Attribute], produced: Seq[Attribute],
                            left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  override def output: Seq[Attribute] = right.output ++ produced
  override def producedAttributes: AttributeSet = AttributeSet(produced)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: ClusteredDistribution(peakKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)), peakKeys.map(SortOrder(_, Ascending)))
  // peak rows pass through: an aggregate by channel rides this partitioning
  override def outputPartitioning: Partitioning = right.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = peakKeys.map(SortOrder(_, Ascending))
  override protected def stringArgs: Iterator[Any] = Iterator(kernel, keys, produced)
  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): ChannelPeaksExec =
    copy(left = l, right = r)

  override protected def doExecute(): RDD[InternalRow] = {
    val (k, ks, idx, pks, lin, rin, out) =
      (kernel, keys, index, peakKeys, left.output, right.output, output)
    val layout = Layout(reads, lin)
    val side = Layout(peakReads, rin)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      new CoGroupedIterator(GroupedIterator(lIter, ks, lin), GroupedIterator(rIter, pks, rin), ks)
        .flatMap { case (key, group, peakGroup) =>
          if (key.anyNull) Iterator.empty
          else {
            val ch = layout.channel(ks, key, idx, group)
            val peakRows = peakGroup.map(_.copy()).toArray
            k(ch, side.rows(peakRows))
              .map { case (i, p) => proj(joined(peakRows(i), p)) }
          }
        }
    }
  }
}
