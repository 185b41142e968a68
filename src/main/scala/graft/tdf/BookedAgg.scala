package graft.tdf

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

import graft.functions.HistBuffer

/** One slot's partial state of every booked action — the analog of the
  * reference's per-slot result clones (TDataFrame.hxx:483-517), flattened:
  * each op owns a few cells of `longs` / `doubles` or one histogram of
  * `hists`. The per-entry scratch (`pass`, the entry's values) is filled
  * once per row by [[BookedAgg.update]] and read by every op.
  */
private[tdf] final class SlotBuffer(
    val longs: Array[Long], val doubles: Array[Double], val hists: Array[HistBuffer],
    nNodes: Int, nValues: Int) {
  /** did the entry pass filter node k */
  val pass = new Array[Boolean](nNodes)
  /** the entry's value v: `nul` / `x` for a double, `arr` for an array
    * (null when the array is null or the value is a scalar), `l` for a weight
    */
  val nul = new Array[Boolean](nValues)
  val x = new Array[Double](nValues)
  val arr = new Array[ArrayData](nValues)
  val l = new Array[Long](nValues)
}

/** One booked action in the fused aggregate's op table. `node` is the filter
  * node gating it (-1: every entry); the other fields are offsets into the
  * slot buffer and indexes of the batch's projected values.
  */
private[tdf] sealed abstract class BookedOp extends Serializable {
  def node: Int
  def update(b: SlotBuffer): Unit
  def merge(into: SlotBuffer, from: SlotBuffer): Unit
}

/** entries passing `node`, counted in `longs(l)` */
private[tdf] final case class CountOp(node: Int, l: Int) extends BookedOp {
  def update(b: SlotBuffer): Unit = b.longs(l) += 1
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.longs(l) += from.longs(l)
}

/** An op fed with the doubles of value `v`: one per entry for a scalar, one
  * per element for an array; null scalars and null elements are skipped.
  */
private[tdf] sealed abstract class ValueOp extends BookedOp {
  def v: Int
  protected def add(b: SlotBuffer, x: Double): Unit
  def update(b: SlotBuffer): Unit = {
    val a = b.arr(v)
    if (a != null) {
      var i = 0
      val n = a.numElements()
      while (i < n) {
        if (!a.isNullAt(i)) add(b, a.getDouble(i))
        i += 1
      }
    } else if (!b.nul(v)) add(b, b.x(v))
  }
}

/** Spark `sum` order: `doubles(d)` starts at 0.0 and adds each value */
private[tdf] final case class SumOp(node: Int, v: Int, d: Int) extends ValueOp {
  protected def add(b: SlotBuffer, x: Double): Unit = b.doubles(d) += x
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.doubles(d) += from.doubles(d)
}

/** Spark `avg` partials: the sum in `doubles(d)`, the count of values in `longs(l)` */
private[tdf] final case class MeanOp(node: Int, v: Int, d: Int, l: Int) extends ValueOp {
  protected def add(b: SlotBuffer, x: Double): Unit = { b.doubles(d) += x; b.longs(l) += 1 }
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = {
    into.doubles(d) += from.doubles(d); into.longs(l) += from.longs(l)
  }
}

/** Spark `min` (`max` when `!isMin`): the extremum in `doubles(d)`, seen in
  * `longs(l)`. Spark's double order: NaN above everything, -0.0 equal to 0.0,
  * and a tie keeps the value seen first.
  */
private[tdf] final case class ExtremumOp(node: Int, v: Int, d: Int, l: Int, isMin: Boolean)
    extends ValueOp {
  private def better(x: Double, cur: Double): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(x, cur)
    if (isMin) c < 0 else c > 0
  }
  protected def add(b: SlotBuffer, x: Double): Unit =
    if (b.longs(l) == 0L || better(x, b.doubles(d))) { b.doubles(d) = x; b.longs(l) = 1L }
  def merge(into: SlotBuffer, from: SlotBuffer): Unit =
    if (from.longs(l) != 0L) add(into, from.doubles(d))
}

/** TH1 fill of `hists(h)` on the axis `[lo, hi)`; `w` is the weight value
  * (-1: unweighted), a null or zero weight skips the entry
  */
private[tdf] final case class HistoOp(
    node: Int, v: Int, w: Int, h: Int, nbins: Int, lo: Double, hi: Double) extends ValueOp {
  private val width = (hi - lo) / nbins
  private def weight(b: SlotBuffer): Long = if (w < 0) 1L else if (b.nul(w)) 0L else b.l(w)
  override def update(b: SlotBuffer): Unit = if (weight(b) != 0L) super.update(b)
  protected def add(b: SlotBuffer, x: Double): Unit =
    b.hists(h).fill(x, weight(b), lo, hi, width)
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.hists(h).add(from.hists(h))
}

/** How the fused aggregate reads one projected value column. */
private[tdf] sealed abstract class ValueKind(val dataType: DataType) {
  def accepts(dt: DataType): Boolean = dt == dataType
}
private[tdf] case object Scalar extends ValueKind(DoubleType)
private[tdf] case object Elements extends ValueKind(ArrayType(DoubleType)) {
  override def accepts(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
}
private[tdf] case object Weight extends ValueKind(LongType)

/** The fused aggregate of one booked batch: ONE `TypedImperativeAggregate`
  * whose per-slot buffer holds every booked action's partial state (the
  * reference's per-slot results, TDataFrame.hxx:483-517). Its children are
  * the batch's filter-node flags (`nodes` booleans, each distinct node
  * projected once below the aggregate) followed by its distinct value
  * columns (`kinds`). For each entry `update` reads every flag and value once
  * — the reference's per-entry filter memoization, TDataFrame.hxx:1293-1306 —
  * and runs only the ops whose node passed; `merge` is a per-op add or
  * compare. The result is the serialized buffer, decoded on the driver.
  */
private[tdf] final case class BookedAgg(
    children: Seq[Expression], nodes: Int, kinds: Seq[ValueKind], ops: Seq[BookedOp],
    nLongs: Int, nDoubles: Int, bins: Seq[Int],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SlotBuffer] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    if (types.take(nodes).forall(_ == BooleanType) &&
        types.drop(nodes).zip(kinds).forall { case (t, k) => k.accepts(t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_booked takes $nodes booleans then ${kinds.map(_.dataType.simpleString)
        .mkString(", ")}; got ${types.map(_.simpleString).mkString(", ")}")
  }

  // bound inputs are read straight off the row; anything else (a literal the
  // optimizer folded into a flag) is evaluated. Plain fields, not lazy vals:
  // `update` reads them for every row.
  private val ordinals: Array[Int] =
    children.map { case r: BoundReference => r.ordinal; case _ => -1 }.toArray
  private val kindTable: Array[ValueKind] = kinds.toArray
  // ops grouped by gating node, so each node's flag is tested once per entry:
  // group j runs opTable(groupEnd(j - 1) until groupEnd(j)) when groupNode(j) passed
  private val opTable: Array[BookedOp] = ops.sortBy(_.node).toArray
  private val groupNode: Array[Int] = opTable.map(_.node).distinct
  private val groupEnd: Array[Int] = groupNode.map(k => opTable.lastIndexWhere(_.node == k) + 1)

  override def createAggregationBuffer(): SlotBuffer =
    new SlotBuffer(new Array[Long](nLongs), new Array[Double](nDoubles),
      bins.map(HistBuffer.empty).toArray, nodes, kinds.length)

  override def update(b: SlotBuffer, row: InternalRow): SlotBuffer = {
    val ords = ordinals
    val nNodes = nodes
    var k = 0
    while (k < nNodes) {
      val o = ords(k)
      b.pass(k) =
        if (o >= 0) !row.isNullAt(o) && row.getBoolean(o)
        else children(k).eval(row) == true
      k += 1
    }
    val vk = kindTable
    var v = 0
    while (v < vk.length) {
      val o = ords(nNodes + v)
      val value: Any = if (o < 0) children(nNodes + v).eval(row) else null
      val isNull = if (o >= 0) row.isNullAt(o) else value == null
      b.nul(v) = isNull
      b.arr(v) = null
      if (!isNull) vk(v) match {
        case Scalar => b.x(v) = if (o >= 0) row.getDouble(o) else value.asInstanceOf[Double]
        case Elements => b.arr(v) = if (o >= 0) row.getArray(o) else value.asInstanceOf[ArrayData]
        case Weight => b.l(v) = if (o >= 0) row.getLong(o) else value.asInstanceOf[Long]
      }
      v += 1
    }
    val table = opTable
    val gn = groupNode
    val ge = groupEnd
    var j = 0
    var i = 0
    while (j < gn.length) {
      val g = gn(j)
      val end = ge(j)
      if (g < 0 || b.pass(g)) while (i < end) { table(i).update(b); i += 1 }
      else i = end
      j += 1
    }
    b
  }

  override def merge(into: SlotBuffer, from: SlotBuffer): SlotBuffer = {
    var i = 0
    while (i < opTable.length) { opTable(i).merge(into, from); i += 1 }
    into
  }

  override def eval(b: SlotBuffer): Any = serialize(b)

  /** flat layout: the op longs, then each histogram's bins, underflow,
    * overflow and entries; then the op doubles, then each histogram's sumx
    * and sumx2
    */
  override def serialize(b: SlotBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 * (nLongs + bins.map(_ + 3).sum + nDoubles + 2 * bins.length))
    b.longs.foreach(buf.putLong)
    b.hists.foreach { h =>
      h.counts.foreach(buf.putLong)
      buf.putLong(h.underflow).putLong(h.overflow).putLong(h.entries)
    }
    b.doubles.foreach(buf.putDouble)
    b.hists.foreach(h => buf.putDouble(h.sumx).putDouble(h.sumx2))
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): SlotBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val longs = Array.fill(nLongs)(buf.getLong)
    val hists = bins.map { n =>
      HistBuffer(Array.fill(n)(buf.getLong), buf.getLong, buf.getLong, buf.getLong, 0.0, 0.0)
    }.toArray
    val doubles = Array.fill(nDoubles)(buf.getDouble)
    hists.foreach { h => h.sumx = buf.getDouble; h.sumx2 = buf.getDouble }
    new SlotBuffer(longs, doubles, hists, 0, 0)
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_booked"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BookedAgg = copy(children = newChildren)
  override def withNewMutableAggBufferOffset(o: Int): BookedAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BookedAgg = copy(inputAggBufferOffset = o)
}
