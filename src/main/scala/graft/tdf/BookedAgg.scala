package graft.tdf

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator, CodegenContext}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
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

/** One booked action in the fused fold's op table. `node` is the filter node
  * gating it (-1: every entry); the other fields are offsets into the slot
  * buffer and indexes of the batch's projected values. [[code]] is the op's
  * Java statements for one entry that passed `node`, emitted into the pass's
  * generated fold ([[FoldCode]]); [[merge]] folds another slot's cells into
  * this slot's.
  */
private[tdf] sealed abstract class BookedOp extends Serializable {
  def node: Int
  def code(g: FoldCode): String
  def merge(into: SlotBuffer, from: SlotBuffer): Unit
}

/** entries passing `node`, counted in `longs(l)`: one per node of a pass,
  * read by every Count and Report prefix on it
  */
private[tdf] final case class CountOp(node: Int, l: Int) extends BookedOp {
  def code(g: FoldCode): String = s"longs[$l]++;"
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.longs(l) += from.longs(l)
}

/** the non-null values of [[Raw]] value `v`, copied off the reused row into
  * `objs(t)` in entry order; merged in slot order
  */
private[tdf] final case class TakeOp(node: Int, v: Int, dataType: DataType, t: Int)
    extends BookedOp {
  def code(g: FoldCode): String =
    s"${g.ref("take", this)}.add(buf, row, ${g.ordinal(v)});"
  /** takes the entry's value at row ordinal `o` */
  def add(b: SlotBuffer, row: InternalRow, o: Int): Unit =
    if (!row.isNullAt(o)) b.objs(t) += InternalRow.copyValue(row.get(o, dataType))
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
  def code(g: FoldCode): String = s"${g.ref("fold", this)}.add(buf, row, ${g.ordinal(0)});"
  /** folds the entry whose value v sits at row ordinal `first + v` */
  def add(b: SlotBuffer, row: InternalRow, first: Int): Unit = {
    val r = toRow(new GenericInternalRow(Array.tabulate[Any](ordinals.length)(i =>
      row.get(first + ordinals(i), schema(i).dataType))))
    val (s, slot) = (b.objs(t), TaskContext.getPartitionId())
    if (s.isEmpty) s += fold.first(slot, r) else s(0) = fold.step(s(0), slot, r)
  }
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = {
    val (a, z) = (into.objs(t), from.objs(t))
    if (a.isEmpty) a ++= z else if (z.nonEmpty) a(0) = fold.merge(a(0), z(0))
  }
}

/** Spark `sum` order: `doubles(d)` starts at 0.0 and adds each value of `v`
  * (each non-null one, elementwise for an array, as [[FoldCode.each]] walks
  * them; so for every op over a value below)
  */
private[tdf] final case class SumOp(node: Int, v: Int, d: Int) extends BookedOp {
  def code(g: FoldCode): String = g.each(v)(x => s"doubles[$d] += $x;")
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = into.doubles(d) += from.doubles(d)
}

/** Spark `avg` partials: the sum in `doubles(d)`, the count of values in `longs(l)` */
private[tdf] final case class MeanOp(node: Int, v: Int, d: Int, l: Int) extends BookedOp {
  def code(g: FoldCode): String = g.each(v)(x => s"doubles[$d] += $x; longs[$l]++;")
  def merge(into: SlotBuffer, from: SlotBuffer): Unit = {
    into.doubles(d) += from.doubles(d); into.longs(l) += from.longs(l)
  }
}

/** Spark `min` (`max` when `!isMin`): the extremum in `doubles(d)`, seen in
  * `longs(l)`. Spark's double order: NaN above everything, -0.0 equal to 0.0,
  * and a tie keeps the value seen first.
  */
private[tdf] final case class ExtremumOp(node: Int, v: Int, d: Int, l: Int, isMin: Boolean)
    extends BookedOp {
  def code(g: FoldCode): String = g.each(v)(x => ExtremumOp.offerCode(d, l, isMin, x))
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
  /** the generated fold's call of [[offer]] */
  def offerCode(d: Int, l: Int, isMin: Boolean, x: String): String =
    s"graft.tdf.ExtremumOp$$.MODULE$$.offer(buf, $d, $l, $isMin, $x);"
}

/** TH1 fill of `hists(h)` on the axis `[lo, hi)`; `w` is the weight value
  * (-1: unweighted), a null or zero weight skips the entry
  */
private[tdf] final case class HistoOp(
    node: Int, v: Int, w: Int, h: Int, nbins: Int, lo: Double, hi: Double) extends BookedOp {
  def code(g: FoldCode): String = {
    val (l, r, width) = (g.double("lo", lo), g.double("hi", hi), g.double("width", (hi - lo) / nbins))
    def fill(wt: String) = g.each(v)(x => s"hists[$h].fill($x, $wt, $l, $r, $width);")
    if (w < 0) fill("1L") else s"{ long wt = ${g.weight(w)}; if (wt != 0L) { ${fill("wt")} } }"
  }
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
  * cap ([[FoldCode.cap]]) distinct values leaves the counts
  * [[ValueCounts.full]]: the histogram then needs a pass on the resolved axis.
  */
private[tdf] final case class AutoHistoOp(
    node: Int, v: Int, w: Int, nbins: Int, d: Int, l: Int, h: Int, t: Int)
    extends BookedOp {
  private def counts(b: SlotBuffer): ValueCounts = b.objs(t)(0).asInstanceOf[ValueCounts]
  def code(g: FoldCode): String = {
    val wt = if (w < 0) "1L" else "wt"
    val each = g.each(v) { x =>
      val fill = s"hists[$h].moments($x, $wt); " +
        s"graft.tdf.AutoHistoOp$$.MODULE$$.count(buf, $t, $x, $wt, ${g.cap});"
      ExtremumOp.offerCode(d, l, isMin = true, x) +
        ExtremumOp.offerCode(d + 1, l + 1, isMin = false, x) +
        (if (w < 0) fill else s"if (wt != 0L) { $fill }")
    }
    if (w < 0) each else s"{ long wt = ${g.weight(w)}; $each }"
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

  /** adds weight `wt` to value `x` of the counts in `objs(t)`, made at the
    * slot's first value
    */
  def count(b: SlotBuffer, t: Int, x: Double, wt: Long, cap: Int): Unit = {
    if (b.objs(t).isEmpty) b.objs(t) += new ValueCounts
    b.objs(t)(0).asInstanceOf[ValueCounts].add(java.lang.Double.doubleToRawLongBits(x), wt, cap)
  }
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

/** The base of a pass's generated fold: [[fold]] folds one slot's entries
  * into its buffer.
  */
private[tdf] abstract class SlotFold {
  def fold(rows: Iterator[InternalRow], b: SlotBuffer): Unit
}

/** What a [[BookedOp]] emits its code with, while one pass's fold class is
  * generated: the names the generated code reads an entry's values by, and
  * fields for the constants that are not offsets, handed over through the
  * class's references array so that the source depends only on the pass's
  * shape. In the generated code `buf` is the slot's buffer, `longs`,
  * `doubles`, `hists` and `objs` its cells and `row` the entry.
  */
private[tdf] final class FoldCode(ctx: CodegenContext, nodes: Int, kinds: IndexedSeq[ValueKind],
    valueCap: Int) {
  /** the row ordinal of value `v` */
  def ordinal(v: Int): Int = nodes + v
  private def isNull(v: Int) = s"v${v}_null"

  /** the fields holding the entry's value `v`, read once per entry */
  def fields(v: Int): Seq[(String, String)] = kinds(v) match {
    case Scalar => Seq("boolean" -> isNull(v), "double" -> s"v${v}_x")
    case Elements => Seq("boolean" -> isNull(v), "org.apache.spark.sql.catalyst.util.ArrayData" -> s"v${v}_arr")
    case Weight => Seq("boolean" -> isNull(v), "long" -> s"v${v}_l")
    case Raw(_) => Nil
  }
  /** the statements reading value `v` off `row` into its [[fields]] */
  def read(v: Int): String = {
    val o = ordinal(v)
    kinds(v) match {
      case Scalar => s"${isNull(v)} = row.isNullAt($o); if (!${isNull(v)}) v${v}_x = row.getDouble($o);"
      case Elements => s"${isNull(v)} = row.isNullAt($o); v${v}_arr = ${isNull(v)} ? null : row.getArray($o);"
      case Weight => s"${isNull(v)} = row.isNullAt($o); if (!${isNull(v)}) v${v}_l = row.getLong($o);"
      case Raw(_) => ""
    }
  }

  /** `add` of each double of value `v`: the value of a scalar, each element
    * of an array, in order; null scalars and null elements are skipped
    */
  def each(v: Int)(add: String => String): String = kinds(v) match {
    case Scalar => s"if (!${isNull(v)}) { ${add(s"v${v}_x")} }"
    case Elements =>
      s"""if (!${isNull(v)}) {
         |  int n = v${v}_arr.numElements();
         |  for (int i = 0; i < n; i++) {
         |    if (!v${v}_arr.isNullAt(i)) { double e = v${v}_arr.getDouble(i); ${add("e")} }
         |  }
         |}""".stripMargin
    case k => throw new IllegalArgumentException(s"value $v is read as $k, not as doubles")
  }
  /** weight value `w` as a long: a null weight is 0 */
  def weight(w: Int): String = s"(${isNull(w)} ? 0L : v${w}_l)"

  /** a field of type `javaType` initialized to `value` (past the
    * `CodegenContext`'s limit on fields, a cell of an array)
    */
  private def constant(name: String, javaType: String, value: AnyRef, init: String => String): String = {
    val r = ctx.addReferenceObj(name, value, value.getClass.getName)
    ctx.addMutableState(javaType, name, f => s"$f = ${init(r)};")
  }
  def double(name: String, x: Double): String =
    constant(name, "double", java.lang.Double.valueOf(x), r => s"$r.doubleValue()")
  /** a field holding `op`, whose methods the generated code calls */
  def ref(name: String, op: BookedOp): String = constant(name, op.getClass.getName, op, identity)
  /** the field holding the pass's [[AutoHistoOp]] cap */
  lazy val cap: String = constant("cap", "int", Integer.valueOf(valueCap), r => s"$r.intValue()")
}

/** The fused fold of one booked pass: a per-slot fold over the output rows
  * of the pass's codegen'd projection, whose ordinals are the batch's
  * filter-node flags (`nodes` non-null booleans, each distinct node projected
  * once) followed by its distinct value columns (`kinds`), into one
  * [[SlotBuffer]] per slot (the reference's per-slot results,
  * TDataFrame.hxx:483-517).
  *
  * The fold is one Java class per pass, generated on the driver from the op
  * table ([[BookedAgg.generate]]) and compiled by Janino in each task
  * through Spark's `CodeGenerator.compile`, whose cache is keyed by the
  * source. For each entry the class reads every value once into fields,
  * then tests each node's flag once and runs that node's ops as
  * straight-line code, in the order the op table holds them — the
  * reference's per-entry filter memoization (:1293-1306) and its
  * template-inlined fills (:1362-1421). Each node's ops are one method (the
  * ops of all entries, node -1, one more), cut into further methods and inner
  * classes by the `CodegenContext` once they grow past Spark's split
  * threshold, so a wide batch stays under the JVM's 64 KB method limit and the
  * JIT's huge-method limit. Offsets into the buffer are literals; every other
  * constant (a histogram's axis, the value-count cap, the Take and user-fold
  * ops) reaches the class through its references array, so the source
  * depends only on the pass's shape, and a repeated chain compiles once per
  * JVM. [[merge]] is a per-op add, compare or append; the driver merges the
  * slots' buffers in slot order at the end of the loop (:1364-1394).
  * `valueCap` is the pass's [[AutoHistoOp]] cap.
  */
private[tdf] final class BookedAgg(
    nodes: Int, kinds: Seq[ValueKind], ops: Seq[BookedOp],
    nLongs: Int, nDoubles: Int, bins: Seq[Int], nObjs: Int, valueCap: Int) extends Serializable {

  // ops grouped by gating node, each group in booking order
  private val opTable: Array[BookedOp] = ops.sortBy(_.node).toArray
  private val (source, references) = BookedAgg.generate(nodes, kinds.toIndexedSeq, opTable, valueCap)

  def newBuffer(): SlotBuffer =
    new SlotBuffer(new Array[Long](nLongs), new Array[Double](nDoubles),
      bins.map(HistBuffer.empty).toArray, Array.fill(nObjs)(mutable.ArrayBuffer.empty[Any]))

  /** one slot's pass over its entries */
  def fold(rows: Iterator[InternalRow]): SlotBuffer = {
    val b = newBuffer()
    val (clazz, _) = CodeGenerator.compile(new CodeAndComment(source, Map.empty))
    clazz.generate(references).asInstanceOf[SlotFold].fold(rows, b)
    b
  }

  def merge(into: SlotBuffer, from: SlotBuffer): SlotBuffer = {
    var i = 0
    while (i < opTable.length) { opTable(i).merge(into, from); i += 1 }
    into
  }
}

private[tdf] object BookedAgg {
  /** The source of the fold class of `ops` (grouped by node) and its
    * references.
    */
  def generate(nodes: Int, kinds: IndexedSeq[ValueKind], ops: Seq[BookedOp],
      valueCap: Int): (String, Array[Any]) = {
    val ctx = new CodegenContext
    val g = new FoldCode(ctx, nodes, kinds, valueCap)
    val groups = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[String]]
    ops.foreach(o => groups.getOrElseUpdate(o.node, mutable.ArrayBuffer.empty) += o.code(g))
    val calls = groups.map { case (k, code) =>
      val name = if (k < 0) "all" else s"node$k"
      val body = ctx.splitExpressions(code.toSeq, funcName = s"${name}_ops", arguments = Nil)
      val f = ctx.addNewFunction(name, s"private void $name() {\n$body\n}")
      if (k < 0) s"$f();" else s"if (row.getBoolean($k)) $f();"
    }
    val entry = ctx.splitExpressions(kinds.indices.map(g.read) ++ calls, funcName = "entry",
      arguments = Nil)
    val fields = kinds.indices.flatMap(g.fields).map { case (t, n) => s"private $t $n;" }
    val source =
      s"""public java.lang.Object generate(Object[] references) {
         |  return new SpecificSlotFold(references);
         |}
         |
         |final class SpecificSlotFold extends ${classOf[SlotFold].getName} {
         |  private Object[] references;
         |  private ${classOf[SlotBuffer].getName} buf;
         |  private long[] longs;
         |  private double[] doubles;
         |  private ${classOf[HistBuffer].getName}[] hists;
         |  private scala.collection.mutable.ArrayBuffer[] objs;
         |  private InternalRow row;
         |  ${fields.mkString("\n  ")}
         |  ${ctx.declareMutableStates()}
         |
         |  public SpecificSlotFold(Object[] references) {
         |    this.references = references;
         |    ${ctx.initMutableStates()}
         |  }
         |
         |  public void fold(scala.collection.Iterator rows, ${classOf[SlotBuffer].getName} b) {
         |    buf = b;
         |    longs = b.longs();
         |    doubles = b.doubles();
         |    hists = b.hists();
         |    objs = b.objs();
         |    while (rows.hasNext()) {
         |      row = (InternalRow) rows.next();
         |      $entry
         |    }
         |  }
         |
         |  ${ctx.declareAddedFunctions()}
         |}
         |""".stripMargin
    (source, ctx.references.toArray)
  }
}
