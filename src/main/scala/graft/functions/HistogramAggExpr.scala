package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{GraftSql => ExpressionUtils}
import org.apache.spark.sql.types._

/** Native histogram aggregate — a hand-written `TypedImperativeAggregate`
  * in place of a `udaf(Aggregator)`, which would deserialize every input row
  * through an encoder (Seq[Double] boxing); this implementation reads the
  * child expression's value straight off the InternalRow (~2× faster on the
  * flagship chain). TH1F edge convention ([[HistBuffer.bin]]), per-partition
  * partial buffers merged at the end — the Spark analog of the reference's
  * per-slot TH1F clones (reference TDataFrame.hxx:483-517).
  *
  * Accepts a `double` column (one fill per row) or `array<double>`
  * (elementwise fill — the reference's container overloads).
  */
case class HistogramAggExpr(
    child: Expression, nbins: Int, lo: Double, hi: Double,
    weight: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HistBuffer] {

  require(nbins >= 1, s"graft_histogram: nbins must be >= 1, got $nbins")
  require(hi > lo, s"graft_histogram: hi ($hi) must be > lo ($lo)")

  // weight must be a real child so analysis/binding reach it
  override def children: Seq[Expression] = child +: weight.toSeq

  // analysis-time type errors instead of executor ClassCastExceptions
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    val valueOk = child.dataType match {
      case DoubleType | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!valueOk)
      TypeCheckFailure(s"graft_histogram value must be double or array<double>, got ${child.dataType}")
    else weight match {
      case Some(w) if w.dataType != LongType =>
        TypeCheckFailure(s"graft_histogram weight must be bigint, got ${w.dataType}")
      case _ => TypeCheckSuccess
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HistogramAggExpr =
    copy(child = newChildren(0),
      weight = if (newChildren.length > 1) Some(newChildren(1)) else None)

  private val w = (hi - lo) / nbins
  // lazy: child may still be unresolved while rules copy this node around
  private lazy val isArrayInput = child.dataType.isInstanceOf[ArrayType]

  override def createAggregationBuffer(): HistBuffer = HistBuffer.empty(nbins)

  override def update(b: HistBuffer, input: InternalRow): HistBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val wt: Long = weight match {
        case Some(we) =>
          val wv = we.eval(input)
          if (wv == null) 0L
          else wv match {
            case l: java.lang.Long => l.longValue()
            case d: java.lang.Double => math.round(d.doubleValue())
            case i: java.lang.Integer => i.longValue()
            case other => other.toString.toLong
          }
        case None => 1L
      }
      if (wt != 0L) {
        if (isArrayInput) {
          val a = v.asInstanceOf[ArrayData]
          var i = 0
          val n = a.numElements()
          while (i < n) {
            if (!a.isNullAt(i)) b.fill(a.getDouble(i), wt, lo, hi, w)
            i += 1
          }
        } else b.fill(v.asInstanceOf[Double], wt, lo, hi, w)
      }
    }
    b
  }

  override def merge(a: HistBuffer, b: HistBuffer): HistBuffer = { a.add(b); a }

  override def eval(b: HistBuffer): Any =
    InternalRow(nbins, lo, hi, new GenericArrayData(b.counts),
      b.underflow, b.overflow, b.entries, b.sumx, b.sumx2)

  override def serialize(b: HistBuffer): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 * nbins + 8 * 5 + 4)
    buf.putInt(nbins)
    var i = 0
    while (i < nbins) { buf.putLong(b.counts(i)); i += 1 }
    buf.putLong(b.underflow).putLong(b.overflow).putLong(b.entries)
    buf.putDouble(b.sumx).putDouble(b.sumx2)
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): HistBuffer = {
    val buf = ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val counts = Array.fill[Long](n)(buf.getLong)
    HistBuffer(counts, buf.getLong, buf.getLong, buf.getLong, buf.getDouble, buf.getDouble)
  }

  override def dataType: DataType = HistogramAggExpr.resultType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): HistogramAggExpr =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistogramAggExpr =
    copy(inputAggBufferOffset = o)
  override def prettyName: String = "graft_histogram"
}

object HistogramAggExpr {
  /** struct layout of the SQL-registered `graft_histogram` result */
  val resultType: StructType = StructType(Seq(
    StructField("nbins", IntegerType, false), StructField("lo", DoubleType, false),
    StructField("hi", DoubleType, false),
    StructField("counts", ArrayType(LongType, false), false),
    StructField("underflow", LongType, false), StructField("overflow", LongType, false),
    StructField("entries", LongType, false), StructField("sumx", DoubleType, false),
    StructField("sumx2", DoubleType, false)))

  /** Column-level entry: value column may be double or array<double>. */
  def histo(in: Column, nbins: Int, lo: Double, hi: Double): Column =
    ExpressionUtils.column(
      HistogramAggExpr(ExpressionUtils.expression(in), nbins, lo, hi)
        .toAggregateExpression())

  /** weighted variant: integer-valued weight column (TH1 Fill(x, w)) */
  def histoWeighted(in: Column, weight: Column, nbins: Int, lo: Double, hi: Double): Column =
    ExpressionUtils.column(
      HistogramAggExpr(ExpressionUtils.expression(in), nbins, lo, hi,
        Some(ExpressionUtils.expression(weight)))
        .toAggregateExpression())
}
