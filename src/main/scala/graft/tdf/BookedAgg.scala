package graft.tdf

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

import graft.functions.HistBuffer

/** One slot's partial state of every booked action — the analog of the
  * reference's per-slot result clones (TDataFrame.hxx:483-517), flattened:
  * each op owns a few cells of `longs` / `doubles`, one histogram of `hists`
  * or one object list of `objs` (a Take's Catalyst values in entry order, or
  * a user fold's state as its one element). A task returns its slot's
  * buffer; the driver merges them.
  */
private[tdf] final class SlotBuffer(
    val longs: Array[Long], val doubles: Array[Double], val hists: Array[HistBuffer],
    val objs: Array[mutable.ArrayBuffer[Any]]) extends Serializable

/** One entry's scratch, filled once per row by [[BookedAgg.fold]] and read by
  * every op. Value v sits at row ordinal `nNodes + v`. `valueCap` is the
  * pass's [[AutoHistoOp]] cap: the distinct values each of its counts may
  * hold in a slot.
  */
private[tdf] final class Entry(val nNodes: Int, nValues: Int, val valueCap: Int) {
  /** did the entry pass filter node k */
  val pass = new Array[Boolean](nNodes)
  /** the entry's value v: `nul` / `x` for a double, `arr` for an array
    * (null when the array is null or the value is a scalar), `l` for a weight;
    * a [[Raw]] value is left on the row
    */
  val nul = new Array[Boolean](nValues)
  val x = new Array[Double](nValues)
  val arr = new Array[ArrayData](nValues)
  val l = new Array[Long](nValues)
  var row: InternalRow = _
  /** the weight in value `w` (-1: unweighted, 1); a null weight is 0 */
  def weight(w: Int): Long = if (w < 0) 1L else if (nul(w)) 0L else l(w)
}

/** One booked action in the fused fold's op table. `node` is the filter node
  * gating it (-1: every entry); the other fields are offsets into the slot
  * buffer and indexes of the batch's projected values.
  */
private[tdf] sealed abstract class BookedOp extends Serializable {
  def node: Int
  def update(b: SlotBuffer, e: Entry): Unit
  def merge(into: SlotBuffer, from: SlotBuffer): Unit
}

/** entries passing `node`, counted in `longs(l)` */
private[tdf] final case class CountOp(node: Int, l: Int) extends BookedOp {
  def update(b: SlotBuffer, e: Entry): Unit = b.longs(l) += 1
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.longs(l) += from.longs(l)
}

/** the non-null values of [[Raw]] value `v`, copied off the reused row into
  * `objs(t)` in entry order; merged in slot order
  */
private[tdf] final case class TakeOp(node: Int, v: Int, dataType: DataType, t: Int)
    extends BookedOp {
  def update(b: SlotBuffer, e: Entry): Unit = {
    val o = e.nNodes + v
    if (!e.row.isNullAt(o)) b.objs(t) += InternalRow.copyValue(e.row.get(o, dataType))
  }
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.objs(t) ++= from.objs(t)
}

/** The user's part of a [[FoldOp]]: `first` starts a slot's state at its
  * first passing entry and `step` folds each later one into it (both get the
  * slot — the partition id — and the entry's row); `merge` combines two
  * slots' states.
  */
private[tdf] final case class UserFold(
    first: (Int, Row) => Any, step: (Any, Int, Row) => Any, merge: (Any, Any) => Any)

/** Foreach, ForeachSlot, Reduce and Accumulate: a [[UserFold]] over the
  * entries passing `node`, each handed over as an external Row of values `vs`
  * (typed as `schema`). `objs(t)` holds the slot's state as its one element,
  * empty while no entry has passed, so such a slot contributes nothing.
  */
private[tdf] final case class FoldOp(
    node: Int, vs: Seq[Int], schema: StructType, t: Int, fold: UserFold) extends BookedOp {
  private val ordinals = vs.toArray
  @transient private lazy val toRow =
    ExpressionEncoder(schema).resolveAndBind().createDeserializer()
  def update(b: SlotBuffer, e: Entry): Unit = {
    val row = toRow(new GenericInternalRow(Array.tabulate[Any](ordinals.length)(i =>
      e.row.get(e.nNodes + ordinals(i), schema(i).dataType))))
    val (s, slot) = (b.objs(t), TaskContext.getPartitionId())
    if (s.isEmpty) s += fold.first(slot, row) else s(0) = fold.step(s(0), slot, row)
  }
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = {
    val (a, z) = (into.objs(t), from.objs(t))
    if (a.isEmpty) a ++= z else if (z.nonEmpty) a(0) = fold.merge(a(0), z(0))
  }
}

/** An op fed with the doubles of value `v`: one per entry for a scalar, one
  * per element for an array; null scalars and null elements are skipped.
  */
private[tdf] sealed abstract class ValueOp extends BookedOp {
  def v: Int
  protected def add(b: SlotBuffer, e: Entry, x: Double): Unit
  def update(b: SlotBuffer, e: Entry): Unit = {
    val a = e.arr(v)
    if (a != null) {
      var i = 0
      val n = a.numElements()
      while (i < n) {
        if (!a.isNullAt(i)) add(b, e, a.getDouble(i))
        i += 1
      }
    } else if (!e.nul(v)) add(b, e, e.x(v))
  }
}

/** Spark `sum` order: `doubles(d)` starts at 0.0 and adds each value */
private[tdf] final case class SumOp(node: Int, v: Int, d: Int) extends ValueOp {
  protected def add(b: SlotBuffer, e: Entry, x: Double): Unit = b.doubles(d) += x
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.doubles(d) += from.doubles(d)
}

/** Spark `avg` partials: the sum in `doubles(d)`, the count of values in `longs(l)` */
private[tdf] final case class MeanOp(node: Int, v: Int, d: Int, l: Int) extends ValueOp {
  protected def add(b: SlotBuffer, e: Entry, x: Double): Unit = {
    b.doubles(d) += x; b.longs(l) += 1
  }
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
  protected def add(b: SlotBuffer, e: Entry, x: Double): Unit = ExtremumOp.offer(b, d, l, isMin, x)
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = ExtremumOp.merge(into, from, d, l, isMin)
}

private[tdf] object ExtremumOp {
  def offer(b: SlotBuffer, d: Int, l: Int, isMin: Boolean, x: Double): Unit = {
    def better = {
      val c = SQLOrderingUtil.compareDoubles(x, b.doubles(d))
      if (isMin) c < 0 else c > 0
    }
    if (b.longs(l) == 0L || better) { b.doubles(d) = x; b.longs(l) = 1L }
  }
  def merge(into: SlotBuffer, from: SlotBuffer, d: Int, l: Int, isMin: Boolean): Unit =
    if (from.longs(l) != 0L) offer(into, d, l, isMin, from.doubles(d))
}

/** TH1 fill of `hists(h)` on the axis `[lo, hi)`; `w` is the weight value
  * (-1: unweighted), a null or zero weight skips the entry
  */
private[tdf] final case class HistoOp(
    node: Int, v: Int, w: Int, h: Int, nbins: Int, lo: Double, hi: Double) extends ValueOp {
  private val width = (hi - lo) / nbins
  override def update(b: SlotBuffer, e: Entry): Unit = if (e.weight(w) != 0L) super.update(b, e)
  protected def add(b: SlotBuffer, e: Entry, x: Double): Unit =
    b.hists(h).fill(x, e.weight(w), lo, hi, width)
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.hists(h).add(from.hists(h))
}

/** An auto-ranged histogram of `nbins` bins in one pass, its values walked
  * once: the (min, max) of every non-null value as two [[ExtremumOp]]s would
  * keep them, in `doubles(d)`, `doubles(d + 1)`, seen in `longs(l)`,
  * `longs(l + 1)`; and, for the values a [[HistoOp]] would fill (a null or
  * zero weight skips them), the moments in the bin-less `hists(h)`, added in
  * the same order, and the exact [[ValueCounts]] in `objs(t)` (empty until
  * the slot's first such value). Once the driver resolves the axis,
  * [[binned]] cuts the counts into bins. A slot meeting more than the pass's
  * [[Entry.valueCap]] distinct values leaves the counts [[ValueCounts.full]]:
  * the histogram then needs a pass on the resolved axis.
  */
private[tdf] final case class AutoHistoOp(
    node: Int, v: Int, w: Int, nbins: Int, d: Int, l: Int, h: Int, t: Int)
    extends ValueOp {
  private def counts(b: SlotBuffer): ValueCounts = b.objs(t)(0).asInstanceOf[ValueCounts]
  protected def add(b: SlotBuffer, e: Entry, x: Double): Unit = {
    ExtremumOp.offer(b, d, l, isMin = true, x)
    ExtremumOp.offer(b, d + 1, l + 1, isMin = false, x)
    val wt = e.weight(w)
    if (wt != 0L) {
      b.hists(h).moments(x, wt)
      if (b.objs(t).isEmpty) b.objs(t) += new ValueCounts
      counts(b).add(java.lang.Double.doubleToRawLongBits(x), wt, e.valueCap)
    }
  }
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = {
    ExtremumOp.merge(into, from, d, l, isMin = true)
    ExtremumOp.merge(into, from, d + 1, l + 1, isMin = false)
    into.hists(h).add(from.hists(h))
    val (a, z) = (into.objs(t), from.objs(t))
    if (a.isEmpty) a ++= z else if (z.nonEmpty) counts(into).merge(counts(from))
  }

  /** The axis the merged extrema resolve: `[0, 1)` before any value;
    * TH1-style padding for the degenerate lo == hi case; otherwise it ends
    * just above the maximum, at least one ulp above it so a range tiny next
    * to the values still keeps the maximum in range.
    */
  def axis(s: SlotBuffer): (Double, Double) = {
    val mn = if (s.longs(l) == 0L) 0.0 else s.doubles(d)
    val mx = if (s.longs(l + 1) == 0L) 1.0 else s.doubles(d + 1)
    if (mn == mx) (mn - 0.5, mx + 0.5)
    else (mn, math.max(mx + (mx - mn) * 1e-9, math.nextUp(mx)))
  }
  /** did a slot meet more than `cap` distinct values */
  def full(s: SlotBuffer): Boolean = s.objs(t).nonEmpty && counts(s).full
  /** the merged moments, the merged counts cut into bins on `[lo, hi)` */
  def binned(s: SlotBuffer, lo: Double, hi: Double): HistBuffer = {
    val m = s.hists(h)
    val hb = HistBuffer(new Array[Long](nbins), 0L, 0L, m.entries, m.sumx, m.sumx2)
    val width = (hi - lo) / nbins
    if (s.objs(t).nonEmpty)
      counts(s).foreach((k, wt) => hb.bin(java.lang.Double.longBitsToDouble(k), wt, lo, hi, width))
    hb
  }
}

private[tdf] object AutoHistoOp {
  /** the most distinct values an auto-ranged histogram counts per slot
    * before it needs a second pass. A slot that passes it has spent its
    * inserts for nothing, so the cap is as low as the quantized inputs it is
    * for allow: 3.6M exponential values on a 1/256 grid hold about 10.9K
    * distinct ones. Folding one slot of 450K such values off the grid
    * (continuous; one core of a 4-core Xeon VM) took about 1.5 ms longer at
    * this cap than with no counts, and 5-8 ms longer at 65,536.
    */
  val Cap: Int = 1 << 14
  /** the distinct values every slot's counts of one pass may hold together:
    * the driver holds every slot's buffer before it merges them, so a pass
    * cuts each slot's cap to `Budget / (slots * auto-ranged histograms)`.
    * At 16 bytes a value that bounds a pass's counts at 16 MB of task
    * results, far below Spark's default 1 GB `spark.driver.maxResultSize`,
    * and at about 64 MB of tables once the driver reads them.
    */
  val Budget: Int = 1 << 20
  /** each counts' cap in a pass of `slots` slots and `autos` auto-ranged
    * histograms, at most `cap`
    */
  def slotCap(cap: Int, slots: Int, autos: Int): Int =
    if (slots == 0 || autos == 0) cap else math.min(cap, (Budget / slots.toLong / autos).toInt)
}

/** One slot's exact multiset of an auto-ranged histogram's values: each
  * distinct value with its summed weight, in an open-addressing table keyed
  * by the value's raw bits (so -0.0 and 0.0, and NaNs of different payloads,
  * stay apart; binning any exact split of the multiset gives the same
  * counts). A value new past `cap` distinct ones drops them all and leaves
  * the counts `full`. Serialized as its filled entries.
  */
private[tdf] final class ValueCounts extends Serializable {
  // key 0L (+0.0) marks an empty cell, so +0.0's weight lives in `zero`
  private var keys = new Array[Long](16)
  private var weights = new Array[Long](16)
  private var shift = 60 // 64 - log2(keys.length): Fibonacci hashing keeps the top bits
  private var hasZero = false
  private var zero = 0L
  private var n = 0 // distinct values held, +0.0 included
  var full = false

  private def index(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt

  /** adds weight `wt` to the value with raw bits `k` */
  def add(k: Long, wt: Long, cap: Int): Unit =
    if (!full) {
      if (k == 0L) {
        if (hasZero) zero += wt
        else if (n >= cap) drop()
        else { hasZero = true; zero = wt; n += 1 }
      } else {
        val mask = keys.length - 1
        var i = index(k)
        while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
        if (keys(i) == k) weights(i) += wt
        else if (n >= cap) drop()
        else {
          keys(i) = k; weights(i) = wt; n += 1
          if (2 * n > keys.length) grow()
        }
      }
    }

  private def drop(): Unit = {
    full = true; hasZero = false; n = 0
    keys = Array.emptyLongArray; weights = Array.emptyLongArray
  }

  private def grow(): Unit = {
    val (ks, ws) = (keys, weights)
    keys = new Array[Long](ks.length * 2); weights = new Array[Long](ks.length * 2); shift -= 1
    n = if (hasZero) 1 else 0
    var i = 0
    while (i < ks.length) { if (ks(i) != 0L) add(ks(i), ws(i), Int.MaxValue); i += 1 }
  }

  /** every (raw bits, summed weight), +0.0 first */
  def foreach(f: (Long, Long) => Unit): Unit = {
    if (hasZero) f(0L, zero)
    var i = 0
    while (i < keys.length) { if (keys(i) != 0L) f(keys(i), weights(i)); i += 1 }
  }

  /** adds every count of `o`, uncapped; full if either is */
  def merge(o: ValueCounts): Unit =
    if (o.full) drop() else o.foreach(add(_, _, Int.MaxValue))

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.writeBoolean(full)
    out.writeInt(n)
    foreach { (k, wt) => out.writeLong(k); out.writeLong(wt) }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    keys = new Array[Long](16); weights = new Array[Long](16); shift = 60
    full = in.readBoolean()
    var i = in.readInt()
    while (i > 0) { add(in.readLong(), in.readLong(), Int.MaxValue); i -= 1 }
  }
}

/** How the fused fold reads one projected value column: the type the
  * projection casts it to.
  */
private[tdf] sealed abstract class ValueKind(val dataType: DataType) extends Serializable
private[tdf] case object Scalar extends ValueKind(DoubleType)
private[tdf] case object Elements extends ValueKind(ArrayType(DoubleType))
private[tdf] case object Weight extends ValueKind(LongType)
/** a column up-cast to a type — its own, or a wider one a typed lambda
  * asks for — read off the row by a [[TakeOp]] or a [[FoldOp]]
  */
private[tdf] final case class Raw(override val dataType: DataType) extends ValueKind(dataType)

/** The fused fold of one booked pass: a plain per-slot fold over the output
  * rows of the pass's codegen'd projection, whose ordinals are the batch's
  * filter-node flags (`nodes` non-null booleans, each distinct node projected
  * once) followed by its distinct value columns (`kinds`). For each entry
  * [[fold]] reads every flag and value once — the reference's per-entry
  * filter memoization, TDataFrame.hxx:1293-1306 — and runs only the ops whose
  * node passed, into one [[SlotBuffer]] per slot (the reference's per-slot
  * results, :483-517). [[merge]] is a per-op add, compare or append; the
  * driver merges the slots' buffers in slot order at the end of the loop
  * (:1364-1394). `valueCap` is each slot's [[Entry.valueCap]].
  */
private[tdf] final class BookedAgg(
    nodes: Int, kinds: Seq[ValueKind], ops: Seq[BookedOp],
    nLongs: Int, nDoubles: Int, bins: Seq[Int], nObjs: Int, valueCap: Int) extends Serializable {

  // Plain fields, not lazy vals: `fold` reads them for every row.
  private val kindTable: Array[ValueKind] = kinds.toArray
  // ops grouped by gating node, so each node's flag is tested once per entry:
  // group j runs opTable(groupEnd(j - 1) until groupEnd(j)) when groupNode(j) passed
  private val opTable: Array[BookedOp] = ops.sortBy(_.node).toArray
  private val groupNode: Array[Int] = opTable.map(_.node).distinct
  private val groupEnd: Array[Int] = groupNode.map(k => opTable.lastIndexWhere(_.node == k) + 1)

  def newBuffer(): SlotBuffer =
    new SlotBuffer(new Array[Long](nLongs), new Array[Double](nDoubles),
      bins.map(HistBuffer.empty).toArray, Array.fill(nObjs)(mutable.ArrayBuffer.empty[Any]))

  /** one slot's pass over its entries */
  def fold(rows: Iterator[InternalRow]): SlotBuffer = {
    val b = newBuffer()
    val e = new Entry(nodes, kindTable.length, valueCap)
    while (rows.hasNext) update(b, e, rows.next())
    b
  }

  private def update(b: SlotBuffer, e: Entry, row: InternalRow): Unit = {
    val nNodes = nodes
    var k = 0
    while (k < nNodes) { e.pass(k) = row.getBoolean(k); k += 1 }
    val vk = kindTable
    var v = 0
    while (v < vk.length) {
      val o = nNodes + v
      val isNull = row.isNullAt(o)
      e.nul(v) = isNull
      e.arr(v) = null
      if (!isNull) vk(v) match {
        case Scalar => e.x(v) = row.getDouble(o)
        case Elements => e.arr(v) = row.getArray(o)
        case Weight => e.l(v) = row.getLong(o)
        case Raw(_) => ()
      }
      v += 1
    }
    e.row = row
    val table = opTable
    val gn = groupNode
    val ge = groupEnd
    var j = 0
    var i = 0
    while (j < gn.length) {
      val g = gn(j)
      val end = ge(j)
      if (g < 0 || e.pass(g)) while (i < end) { table(i).update(b, e); i += 1 }
      else i = end
      j += 1
    }
  }

  def merge(into: SlotBuffer, from: SlotBuffer): SlotBuffer = {
    var i = 0
    while (i < opTable.length) { opTable(i).merge(into, from); i += 1 }
    into
  }
}
