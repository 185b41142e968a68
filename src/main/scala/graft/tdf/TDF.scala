package graft.tdf

import scala.collection.mutable
import scala.util.{Failure, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.UpCast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftbridge.GraftSql

import graft.functions.{HistBuffer, Histogram}

/** Lazy result proxy — the Spark analog of the reference's
  * `TActionResultProxy<T>` (reference: TDataFrame.hxx:170-236): first access
  * triggers the shared run of every action booked on the same context; results
  * stay valid afterwards, and further bookings start a fresh batch
  * (reference re-booking semantics, TDataFrame.hxx test_misc TEST 11). When
  * the run fails, every result it left unfilled keeps the failure as the
  * cause of the error its dereference throws.
  */
final class Result[T] private[tdf] (ctx: BookingContext) {
  @volatile private[tdf] var v: Option[Try[T]] = None
  def isReady: Boolean = v.exists(_.isSuccess)
  def apply(): T = {
    if (v.isEmpty) ctx.run()
    v.getOrElse(throw new IllegalStateException("booked action was not filled by the run")).get
  }
  /** alias mirroring the reference's dereference */
  def value: T = apply()
}

private[tdf] sealed trait Step
private[tdf] final case class FilterStep(name: Option[String], pred: Column) extends Step
private[tdf] final case class DefineStep(name: String, expr: Column) extends Step

private[tdf] sealed trait ActionSpec
private[tdf] case object CountSpec extends ActionSpec
private[tdf] final case class SumSpec(col: String) extends ActionSpec
private[tdf] final case class MinSpec(col: String) extends ActionSpec
private[tdf] final case class MaxSpec(col: String) extends ActionSpec
private[tdf] final case class MeanSpec(col: String) extends ActionSpec
private[tdf] final case class TakeSpec(col: String) extends ActionSpec
private[tdf] final case class HistoSpec(
    col: String, nbins: Int, range: Option[(Double, Double)],
    weight: Option[String] = None) extends ActionSpec
private[tdf] case object ReportSpec extends ActionSpec
/** Foreach, ForeachSlot, Reduce and Accumulate: `fold` over the passing
  * entries' `cols`, each read as its kind (None: [[Raw]] in its own type);
  * `done` turns the merged state (None when no entry passed) into the result
  */
private[tdf] final case class FoldSpec(
    cols: Seq[(String, Option[ValueKind])], fold: UserFold, done: Option[Any] => Any)
    extends ActionSpec

/** a booked action; `ren` maps a define name of its fork to the batch's
  * private column for it (see [[BookingContext.unify]])
  */
private[tdf] final case class Booked(
    steps: Vector[Step], spec: ActionSpec, result: Result[Any], ren: Map[String, String])

/** Shared root registry of booked (plan, action) pairs — the analog of the
  * reference's `TDataFrameImpl` (TDataFrame.hxx:1336-1351, run loop
  * :1362-1421). On first result access it runs every booked action —
  * aggregates, Take, Report, and the user folds of Foreach, ForeachSlot,
  * Reduce and Accumulate — in ONE Spark job over ONE scan, with one stage and
  * no shuffle. A whole-stage-codegen projection computes each distinct filter
  * node's flag once per entry — a node's predicate runs only on entries its
  * parent passed, the reference's per-entry filter memoization
  * (TDataFrame.hxx:1293-1306) — and each distinct value column once. Each
  * task folds its partition's rows into one per-slot buffer holding every
  * action's partial state ([[BookedAgg]]) with the pass's generated fold
  * class: one Java class per pass, its source made from the op table's
  * shape only (offsets; the other constants ride its references array), so
  * Janino's cache, keyed by the source, compiles a repeated chain once. Per
  * entry it tests each node's flag once and runs that node's ops as
  * straight-line code, one method per node, split further when a batch is
  * wide. The driver merges the slots' buffers in partition order at the
  * end of the loop (the reference's per-slot results, :483-517, merged at
  * :1364-1394), so no result depends on the order tasks finish in. Sibling
  * forks that define one name differently each get their own column of the
  * same projection. An auto-ranged histogram is exact in the same job: each
  * slot keeps its values' exact counts, which the driver bins once the
  * merged extrema give the axis; only one whose slot met too many distinct
  * values needs a second job. `valueCap` is the most distinct values such
  * counts hold per slot ([[AutoHistoOp.Cap]]; tests lower it, it is not a
  * user option). Scan, pushdown, pruning and codegen are Catalyst's.
  */
final class BookingContext private[tdf] (
    val base: DataFrame, compat: Boolean, valueCap: Int = AutoHistoOp.Cap) {
  // Frame identity captured eagerly so it is still printable after the owning
  // session has been stopped (used by the dangling-frame guard below).
  private val frameDesc = {
    val cs = base.columns
    s"TDataFrame(${cs.take(4).mkString(", ")}${if (cs.length > 4) ", …" else ""})"
  }
  private val pending = mutable.ArrayBuffer.empty[Booked]

  private[tdf] def book[T](steps: Vector[Step], spec: ActionSpec): Result[T] = synchronized {
    // same lock as run(): a booking raced against a concurrent trigger must
    // not be cleared unfilled
    val r = new Result[T](this)
    pending += Booked(steps, spec, r.asInstanceOf[Result[Any]], Map.empty)
    r
  }

  /** a decoder that throws fills its own result with the failure */
  private def fill[T](r: Result[Any], value: => T): Unit = r.v = Some(Try(value))

  /** The batch's defines, each distinct (name, expression) once, and every
    * booked action with its fork's filters rewritten onto them. The first
    * expression of a name keeps the name; a later distinct one — a sibling
    * fork defining the name differently, or a define over such a column —
    * gets a private column, and the fork's later steps and its action columns
    * read that column. Expressions compare as Columns (normalized nodes,
    * Origin stripped): a UDF keeps its function object in the node, so two
    * DIFFERENT typed lambdas stay apart even though both render as `UDF(x)`.
    */
  private def unify(batch: Vector[Booked]): (Seq[(String, Column)], Vector[Booked]) = {
    val defines = mutable.LinkedHashMap.empty[(String, Column), String]
    val unified = batch.map { b =>
      var ren = Map.empty[String, String]
      def rewrite(c: Column) =
        if (ren.isEmpty) c else GraftSql.renameColumns(base.sparkSession, c, ren)
      val filters = b.steps.flatMap {
        case DefineStep(n, e) =>
          val c = defines.getOrElseUpdate((n, rewrite(e)),
            if (defines.keysIterator.exists(_._1 == n)) s"__tdf_d${defines.size}" else n)
          if (c != n) ren += n -> c
          None
        case FilterStep(n, p) => Some(FilterStep(n, rewrite(p)))
      }
      b.copy(steps = filters, ren = ren)
    }
    (defines.toSeq.map { case ((_, e), c) => (c, e) }, unified)
  }

  /** Execute every pending action in one job, plus one shared job for the
    * auto-ranged histograms a slot met too many distinct values for. Clears
    * the pending list first; if the run fails, each result it left unfilled
    * keeps the failure.
    */
  private[tdf] def run(): Unit = synchronized {
    if (pending.isEmpty) return
    // Dangling-frame parity (reference tests/regression_invalidref.cxx:10-18,
    // TDataFrame.hxx:994-1001): dereferencing a booked result after the owning
    // session is gone must be a clear engine-level error, not a raw Spark
    // exception from deep inside the runtime.
    if (base.sparkSession.sparkContext.isStopped)
      throw new IllegalStateException(
        s"$frameDesc went out of scope: the owning SparkSession was stopped " +
          "before this booked result was dereferenced — trigger the event loop " +
          "(dereference the result) while the session is alive")
    val batch = pending.toVector
    pending.clear()
    try {
      val (defines, unified) = unify(batch)
      runPasses(unified, defines.foldLeft(base) { case (df, (n, e)) => df.withColumn(n, e) })
    } catch {
      case NonFatal(t) =>
        val failed = Failure(new IllegalStateException("booked action's run failed", t))
        batch.foreach(b => if (b.result.v.isEmpty) b.result.v = Some(failed))
        throw t
    }
  }

  /** One pass runs every action. An auto-ranged histogram (the reference's
    * deferred-axis FillOperation, TDataFrame.hxx:410-480, which buffers each
    * slot's values until the axis is known) keeps its (min, max), its moments
    * and each slot's exact value counts in that pass; the driver resolves the
    * axis from the merged extrema and bins the merged counts. Only the
    * histograms some slot met more distinct values for than its cap
    * (`valueCap`, cut so that the pass's counts fit [[AutoHistoOp.Budget]])
    * share a second pass on their resolved axes. Each pass is one job.
    */
  private def runPasses(batch: Vector[Booked], wide: DataFrame): Unit = {
    val pass1 = new Lowering(wide)
    val auto = mutable.ArrayBuffer.empty[(Booked, HistoSpec, AutoHistoOp, SlotBuffer)]
    pass1.run(batch.map {
      case b @ Booked(steps, spec @ HistoSpec(c, nbins, None, wc), _, ren) =>
        def name(c: String) = ren.getOrElse(c, c)
        val op = AutoHistoOp(pass1.node(steps), pass1.value(name(c)),
          wc.fold(-1)(w => pass1.weight(name(w))), nbins, pass1.doubles(2), pass1.longs(2),
          pass1.hist(0), pass1.obj())
        pass1.op(op)
        (s: SlotBuffer) => { auto += ((b, spec, op, s)); () }
      case b => lower(b, pass1)
    })
    // an empty axis fails the whole run, so no auto-ranged result fills
    // before every axis is checked
    val axes = auto.map { case (_, spec, op, s) =>
      val (lo, hi) = op.axis(s)
      require(hi > lo, s"Histo: resolved axis [$lo, $hi) of '${spec.col}' is empty")
      (lo, hi)
    }
    val pass2 = new Lowering(wide)
    val rest = auto.zip(axes).toVector.flatMap { case ((b, spec, op, s), (lo, hi)) =>
      if (op.full(s)) Some(lower(b.copy(spec = spec.copy(range = Some((lo, hi)))), pass2))
      else { fill(b.result, histogram(spec.nbins, lo, hi, op.binned(s, lo, hi))); None }
    }
    if (rest.nonEmpty) pass2.run(rest)
  }

  private def histogram(nbins: Int, lo: Double, hi: Double, hb: HistBuffer): Histogram =
    Histogram(nbins, lo, hi, hb.counts, hb.underflow, hb.overflow, hb.entries, hb.sumx, hb.sumx2)

  /** Books one action onto a pass as op(s) of the fused fold; returns the
    * decoder that fills its result from the merged slot buffer.
    */
  private def lower(b: Booked, p: Lowering): SlotBuffer => Unit = {
    val k = p.node(b.steps)
    def name(c: String) = b.ren.getOrElse(c, c)
    def extremum(c: String, isMin: Boolean, empty: Double): SlotBuffer => Unit = {
      val (d, l) = (p.doubles(1), p.longs(1))
      p.op(ExtremumOp(k, p.value(name(c)), d, l, isMin))
      s => fill(b.result, if (s.longs(l) == 0L) empty else s.doubles(d))
    }
    b.spec match {
      case CountSpec =>
        val l = p.counter(k)
        s => fill(b.result, s.longs(l))
      case SumSpec(c) =>
        val d = p.doubles(1)
        p.op(SumOp(k, p.value(name(c)), d))
        s => fill(b.result, s.doubles(d))
      case MeanSpec(c) =>
        val (d, l) = (p.doubles(1), p.longs(1))
        p.op(MeanOp(k, p.value(name(c)), d, l))
        s => fill(b.result,
          if (s.longs(l) == 0L) { if (compat) 0.0 else Double.NaN } else s.doubles(d) / s.longs(l))
      case MinSpec(c) => extremum(c, isMin = true, if (compat) Double.MaxValue else Double.NaN)
      // reference quirk: empty Max → numeric_limits<double>::min() (tiniest
      // positive double), tests/regression_zeroentries.cxx:36
      case MaxSpec(c) =>
        extremum(c, isMin = false, if (compat) java.lang.Double.MIN_NORMAL else Double.NaN)
      case TakeSpec(c) =>
        val ((v, dt), t) = (p.raw(name(c), None), p.obj())
        p.op(TakeOp(k, v, dt, t))
        // the external types `collect()` gives: the same row deserializer
        val toRow = ExpressionEncoder(StructType(Seq(StructField(c, dt))))
          .resolveAndBind().createDeserializer()
        s => fill(b.result, s.objs(t).map(x => toRow(InternalRow(x)).get(0)).toSeq)
      case FoldSpec(cols, fold, done) =>
        val (vs, t) = (cols.map { case (c, kind) => p.raw(name(c), kind) }, p.obj())
        p.op(FoldOp(k, vs.map(_._1), StructType(cols.zip(vs).map { case ((c, _), (_, dt)) =>
          StructField(c, dt) }), t, fold))
        s => fill(b.result, done(s.objs(t).headOption))
      case HistoSpec(c, nbins, range, weightCol) =>
        // an auto-ranged Histo is lowered here only once pass 1 resolved its axis
        val (lo, hi) = range.get
        val (h, w) = (p.hist(nbins), weightCol.fold(-1)(w => p.weight(name(w))))
        p.op(HistoOp(k, p.value(name(c)), w, h, nbins, lo, hi))
        s => fill(b.result, histogram(nbins, lo, hi, s.hists(h)))
      case ReportSpec =>
        val names = b.steps.collect { case FilterStep(n, _) => n }.zipWithIndex.map {
          case (n, i) => n.getOrElse(s"filter_$i")
        }
        // the count of each prefix of the cut chain, the empty prefix
        // included: cut i passes count i + 1 out of count i
        val counts = if (names.isEmpty) Vector.empty else (-1 +: p.chain(b.steps)).map(p.counter)
        s => fill(b.result, names.zipWithIndex.map { case (n, i) =>
          CutInfo(n, s.longs(counts(i + 1)), s.longs(counts(i)))
        })
    }
  }

  /** One pass of a batch, lowered onto one projection and one [[BookedAgg]]
    * fold. Filter node k is a (parent node, predicate) pair, each distinct
    * pair once (Column equality, hashed on the normalized node): its flag is
    * `coalesce(parent && pred, false)`, projected once, so a predicate runs
    * once per entry and only on entries its parent passed. Each node,
    * -1 (every entry) included, has at most one counter, which every Count
    * and Report prefix on it reads. Each distinct value column is projected
    * once for every entry, cast to double, `array<double>` or (weights) long,
    * or (Take and the user folds) up-cast, so a lossy narrowing fails
    * analysis on the driver.
    */
  private final class Lowering(val wide: DataFrame) {
    // each key's index is its insertion order
    private val nodes = mutable.LinkedHashMap.empty[(Int, Column), Int]
    private val values = mutable.LinkedHashMap.empty[(String, ValueKind), Int]
    private val counters = mutable.HashMap.empty[Int, Int]
    private val ops = mutable.ArrayBuffer.empty[BookedOp]
    private val bins = mutable.ArrayBuffer.empty[Int]
    private var nLongs = 0
    private var nDoubles = 0
    private var nObjs = 0

    /** the nodes after each filter of a chain */
    def chain(steps: Vector[Step]): Vector[Int] =
      steps.collect { case FilterStep(_, p) => p }.scanLeft(-1) { (parent, p) =>
        nodes.getOrElseUpdate((parent, p), nodes.size)
      }.tail
    /** the node gating a chain's actions; -1 (every entry) without filters */
    def node(steps: Vector[Step]): Int = chain(steps).lastOption.getOrElse(-1)

    private def slot(key: (String, ValueKind)): Int = values.getOrElseUpdate(key, values.size)
    /** a value column read elementwise when it is an array (the reference's
      * container overloads, TDataFrame.hxx:451-459)
      */
    def value(c: String): Int =
      slot((c, if (wide.schema(c).dataType.isInstanceOf[ArrayType]) Elements else Scalar))
    def weight(c: String): Int = slot((c, Weight))
    /** a value read off the row, up-cast to `kind` (None: in its own
      * type), and the type it is read as
      */
    def raw(c: String, kind: Option[ValueKind]): (Int, DataType) = {
      val k = kind.getOrElse(Raw(wide.schema(c).dataType))
      (slot((c, k)), k.dataType)
    }
    /** the cell counting the entries that pass `node` */
    def counter(node: Int): Int =
      counters.getOrElseUpdate(node, { val l = longs(1); op(CountOp(node, l)); l })
    def longs(n: Int): Int = { nLongs += n; nLongs - n }
    def doubles(n: Int): Int = { nDoubles += n; nDoubles - n }
    def hist(nbins: Int): Int = { bins += nbins; bins.length - 1 }
    def obj(): Int = { nObjs += 1; nObjs - 1 }
    def op(o: BookedOp): Unit = ops += o

    /** Runs the pass as one job with one stage and no shuffle (none when no
      * action needs one): every task folds its partition of the projection
      * into one slot buffer, and the driver merges the buffers in partition
      * order and hands every decoder the merged buffer. The slots and
      * auto-ranged histograms of the pass share [[AutoHistoOp.Budget]].
      */
    def run(decoders: Seq[SlotBuffer => Unit]): Unit = {
      val buf =
        if (ops.isEmpty) null
        else {
          def flag(k: Int) = col(s"__tdf_n$k")
          val nodeList = nodes.keysIterator.toIndexedSeq
          val depth = mutable.ArrayBuffer.empty[Int]
          nodeList.foreach { case (parent, _) => depth += (if (parent < 0) 0 else depth(parent) + 1) }
          // one select per depth: a node's flag reads its parent's
          val flagged = nodeList.indices.groupBy(depth).toSeq.sortBy(_._1).foldLeft(wide) {
            case (df, (_, ks)) => df.select(col("*") +: ks.map { k =>
              val (parent, p) = nodeList(k)
              coalesce(if (parent < 0) p else flag(parent) && p, lit(false)).as(s"__tdf_n$k")
            }: _*)
          }
          // the fold reads flag k at ordinal k and value v at nodes + v
          val projected = flagged.select(nodeList.indices.map(flag) ++
            values.keysIterator.zipWithIndex.toSeq.map {
              case ((c, Raw(dt)), v) =>
                GraftSql.column(UpCast(GraftSql.expression(col(c)), dt)).as(s"__tdf_v$v")
              case ((c, kind), v) => col(c).cast(kind.dataType).as(s"__tdf_v$v")
            }: _*)
          GraftSql.withExecution(projected, "graft_booked") { rows =>
            val cap = AutoHistoOp.slotCap(valueCap, rows.getNumPartitions,
              ops.count(_.isInstanceOf[AutoHistoOp]))
            val agg = new BookedAgg(nodes.size, values.keysIterator.map(_._2).toSeq, ops.toSeq,
              nLongs, nDoubles, bins.toSeq, nObjs, cap)
            rows.sparkContext.runJob(rows, agg.fold _).foldLeft(agg.newBuffer())(agg.merge)
          }
        }
      decoders.foreach(_(buf))
    }
  }
}

/** One line of a cut-flow report (reference planned op, TDFGuide.md:269-270). */
final case class CutInfo(name: String, pass: Long, all: Long) {
  def efficiency: Double = if (all == 0) 0.0 else pass.toDouble / all
}

/** The facade — Spark analog of `TDataFrameInterface` (TDataFrame.hxx:706-1100).
  * Immutable: every transformation returns a new TDF sharing the same
  * BookingContext, so call-graph forking (reference TDFGuide.md:235-261) is the
  * natural usage. Transformations are recorded as lineage steps; actions book
  * onto the shared context and return lazy [[Result]]s; the first dereference
  * compiles every booked action into one shared scan.
  */
final class TDF private (
    private[tdf] val ctx: BookingContext,
    private[tdf] val steps: Vector[Step],
    val defaultColumns: Seq[String]) {

  private def spark: SparkSession = ctx.base.sparkSession

  /** Columns visible at this node: physical + path defines. */
  def columns: Seq[String] =
    ctx.base.columns.toSeq ++ steps.collect { case DefineStep(n, _) => n }

  // ---- transformations ------------------------------------------------------

  def Filter(pred: Column): TDF = new TDF(ctx, steps :+ FilterStep(None, pred), defaultColumns)
  /** SQL-string predicate convenience: `d.Filter("z > 1000")` */
  def Filter(predSql: String): TDF = Filter(expr(predSql))
  def Filter(name: String, pred: Column): TDF =
    new TDF(ctx, steps :+ FilterStep(Some(name), pred), defaultColumns)

  /** Reference `AddBranch` (later `Define`): lazy derived column; throws on
    * collision with an existing column (TDataFrame.hxx:290-297).
    */
  def Define(name: String, expr: Column): TDF = {
    if (columns.contains(name))
      throw new IllegalArgumentException(s"branch '$name' already present")
    new TDF(ctx, steps :+ DefineStep(name, expr), defaultColumns)
  }
  def AddBranch(name: String, expr: Column): TDF = Define(name, expr)
  /** SQL-string expression convenience: `d.Define("z", "price * (1-disc)")` */
  def Define(name: String, exprSql: String): TDF = Define(name, expr(exprSql))

  def WithDefaultColumns(cols: Seq[String]): TDF = new TDF(ctx, steps, cols)

  // ---- typed-lambda surface -------------------------------------------------
  // The reference's primary user API is typed callables + a branch list, with
  // argument types deduced via TFunctionTraits (TDataFrame.hxx:44-81; usage
  // README.md:10-16; shapes exercised in tests/test_functiontraits.cxx:24-141).
  // Scala function values cover every reference callable shape — lambda,
  // eta-expanded free function/method, and function object (FunctionN
  // instance) — so one overload set serves all of them. Lambdas are lowered
  // to Spark UDFs with TypeTag-derived schemas; the column list's arity is
  // validated against the callable's arity (reference PickBranchNames arity
  // errors, TDataFrame.hxx:299-314), falling back to the default column list
  // when omitted.
  //
  // Scale note: a UDF is an opaque black box to Catalyst — no predicate
  // pushdown through a lambda Filter, no constant folding inside a lambda
  // Define. The native `Column` overloads above are the fast path; the typed
  // surface exists for API parity and for genuinely imperative row logic.

  private def pickN(cols: Seq[String], n: Int, op: String): Seq[String] = {
    val cs = if (cols.nonEmpty) cols else defaultColumns
    if (cs.size != n)
      throw new IllegalArgumentException(
        s"$op: callable takes $n column(s) but ${if (cols.nonEmpty) "column list"
          else "default column list"} has ${cs.size}")
    cs
  }

  import scala.reflect.runtime.universe.TypeTag

  def Filter[A: TypeTag](f: A => Boolean, cols: Seq[String] = Nil): TDF = {
    val cs = pickN(cols, 1, "Filter")
    Filter(udf(f).apply(col(cs(0))))
  }
  def Filter[A: TypeTag, B: TypeTag](f: (A, B) => Boolean, cols: Seq[String]): TDF = {
    val cs = pickN(cols, 2, "Filter")
    Filter(udf(f).apply(col(cs(0)), col(cs(1))))
  }
  def Filter[A: TypeTag, B: TypeTag, C: TypeTag](
      f: (A, B, C) => Boolean, cols: Seq[String]): TDF = {
    val cs = pickN(cols, 3, "Filter")
    Filter(udf(f).apply(col(cs(0)), col(cs(1)), col(cs(2))))
  }
  def Filter[A: TypeTag, B: TypeTag, C: TypeTag, D: TypeTag](
      f: (A, B, C, D) => Boolean, cols: Seq[String]): TDF = {
    val cs = pickN(cols, 4, "Filter")
    Filter(udf(f).apply(col(cs(0)), col(cs(1)), col(cs(2)), col(cs(3))))
  }

  /** named typed-lambda cut (for cut-flow `Report`) */
  def Filter[A: TypeTag](name: String, f: A => Boolean, cols: Seq[String]): TDF = {
    val cs = pickN(cols, 1, "Filter")
    Filter(name, udf(f).apply(col(cs(0))))
  }

  def Define[R: TypeTag, A: TypeTag](name: String, f: A => R, cols: Seq[String] = Nil): TDF = {
    val cs = pickN(cols, 1, "Define")
    Define(name, udf(f).apply(col(cs(0))))
  }
  def Define[R: TypeTag, A: TypeTag, B: TypeTag](
      name: String, f: (A, B) => R, cols: Seq[String]): TDF = {
    val cs = pickN(cols, 2, "Define")
    Define(name, udf(f).apply(col(cs(0)), col(cs(1))))
  }
  def Define[R: TypeTag, A: TypeTag, B: TypeTag, C: TypeTag](
      name: String, f: (A, B, C) => R, cols: Seq[String]): TDF = {
    val cs = pickN(cols, 3, "Define")
    Define(name, udf(f).apply(col(cs(0)), col(cs(1)), col(cs(2))))
  }
  def AddBranch[R: TypeTag, A: TypeTag](name: String, f: A => R, cols: Seq[String]): TDF =
    Define(name, f, cols)
  def AddBranch[R: TypeTag, A: TypeTag, B: TypeTag](
      name: String, f: (A, B) => R, cols: Seq[String]): TDF = Define(name, f, cols)

  // ---- column resolution (reference PickBranchNames, TDataFrame.hxx:299-314)

  private def pick(c: String, op: String): String =
    if (c.nonEmpty) c
    else defaultColumns match {
      case Seq(one) => one
      case Nil => throw new IllegalArgumentException(s"$op: no column given and no default set")
      case many => throw new IllegalArgumentException(
        s"$op: no column given and ${many.size} defaults — need exactly 1")
    }

  // ---- lazy actions ---------------------------------------------------------

  def Count(): Result[Long] = ctx.book(steps, CountSpec)
  def Sum(column: String = ""): Result[Double] = ctx.book(steps, SumSpec(pick(column, "Sum")))
  def Min(column: String = ""): Result[Double] = ctx.book(steps, MinSpec(pick(column, "Min")))
  def Max(column: String = ""): Result[Double] = ctx.book(steps, MaxSpec(pick(column, "Max")))
  def Mean(column: String = ""): Result[Double] = ctx.book(steps, MeanSpec(pick(column, "Mean")))
  /** Reference `Take<T>`: the full column as a driver-side Seq. Faithful to
    * the reference's semantics (a materialized std::list, TDataFrame.hxx), so
    * the whole column lands in driver memory — for data-scale columns use
    * [[TakeIterator]], which streams partition by partition.
    */
  def Take(column: String = ""): Result[Seq[Any]] =
    ctx.book(steps, TakeSpec(pick(column, "Take")))

  /** Spill-safe `Take` for large collects: streams the column partition by
    * partition (`toLocalIterator`), so the driver holds at most one partition
    * instead of the whole column at once. Instant action — it returns
    * a live cursor, so it cannot ride the fused batch.
    */
  def TakeIterator(column: String = ""): Iterator[Any] = {
    import scala.jdk.CollectionConverters._
    toDF.select(col(pick(column, "Take"))).toLocalIterator().asScala.map(_.get(0))
  }
  private def checkAxis(nbins: Int, lo: Double, hi: Double): Unit = {
    require(nbins >= 1, s"Histo: nbins must be >= 1, got $nbins")
    require(hi >= lo, s"Histo: hi ($hi) must be >= lo ($lo)")
  }

  /** Reference signature `Histo(branchName = "", nBins = 128, minVal = 0.,
    * maxVal = 0.)` (TDataFrame.hxx:924): `lo == hi` means "axis from data
    * min/max" (TH1 auto-range convention) — the deferred axis, filled in the
    * one pass from each slot's exact value counts.
    */
  def Histo(column: String, nbins: Int, lo: Double, hi: Double): Result[Histogram] = {
    checkAxis(nbins, lo, hi)
    val range = if (lo == hi) None else Some((lo, hi))
    ctx.book(steps, HistoSpec(pick(column, "Histo"), nbins, range))
  }
  /** auto-ranged: axis from data min/max (reference FillOperation), one pass
    * unless a slot meets more than 16,384 distinct values, or fewer on a
    * frame of many partitions (the counts of a pass hold 2^20 in all)
    */
  def Histo(column: String, nbins: Int): Result[Histogram] = {
    require(nbins >= 1, s"Histo: nbins must be >= 1, got $nbins")
    ctx.book(steps, HistoSpec(pick(column, "Histo"), nbins, None))
  }
  /** reference TEST 6 `d.Histo()`: default column, 128 bins, auto-range */
  def Histo(): Result[Histogram] = Histo("", 128)
  /** Model overload (reference TDataFrame.hxx:897-904, TEST 6
    * `d.Histo("dv", dvHisto)`): axis copied from the model histogram; the
    * returned histogram is independent of the model. `Histogram.model` builds
    * an empty model.
    */
  def Histo(column: String, model: Histogram): Result[Histogram] =
    Histo(column, model.nbins, model.lo, model.hi)
  /** weighted fill: Fill(x, w) with an integer-valued weight column;
    * `lo == hi` auto-ranges, same convention as the unweighted overloads.
    * DELIBERATE integer restriction: the weight is cast to long (a fractional
    * weight column would silently truncate), because the fused fold's
    * long bins are what keep weighted counts exact and merge-order-
    * independent. Real-valued weights go through [[HistoWeightedD]], which
    * keeps exactness by decimal-summing quantized weights instead.
    */
  def HistoWeighted(column: String, weightCol: String, nbins: Int, lo: Double,
      hi: Double): Result[Histogram] = {
    checkAxis(nbins, lo, hi)
    val range = if (lo == hi) None else Some((lo, hi))
    ctx.book(steps, HistoSpec(pick(column, "Histo"), nbins, range, Some(weightCol)))
  }
  def Report(): Result[Seq[CutInfo]] = ctx.book(steps, ReportSpec)

  /** 2-D histogram (TH2 analog) as a distributed bucket aggregation — grids
    * can be large, so the result stays a DataFrame rather than a driver proxy.
    */
  def Histo2D(
      xCol: String, yCol: String,
      nx: Int, lox: Double, hix: Double,
      ny: Int, loy: Double, hiy: Double): DataFrame =
    graft.functions.Histo2D(toDF, col(xCol), col(yCol), nx, lox, hix, ny, loy, hiy)

  /** Weighted 2-D histogram (TH2 `Fill(x, y, w)`, real-valued weights) —
    * decimal-summed cells, see [[graft.functions.Histo2D.weighted]].
    */
  def Histo2DWeighted(
      xCol: String, yCol: String, wCol: String,
      nx: Int, lox: Double, hix: Double,
      ny: Int, loy: Double, hiy: Double, wScale: Int = 2): DataFrame =
    graft.functions.Histo2D.weighted(
      toDF, col(xCol), col(yCol), col(wCol), nx, lox, hix, ny, loy, hiy, wScale)

  /** Profile histogram (TProfile analog): per-x-bin count, mean and rms of
    * `yCol`, decimal-summed for cross-engine exactness — see
    * [[graft.functions.ProfileHisto]].
    */
  def HistoProfile(
      xCol: String, yCol: String, nbins: Int, lo: Double, hi: Double,
      yScale: Int = 2): DataFrame =
    graft.functions.ProfileHisto(toDF, col(xCol), col(yCol), nbins, lo, hi, yScale)

  /** Double-weighted 1-D histogram (TH1 `Fill(x, w)` with real-valued w):
    * weights quantized to `wScale` decimal places, bins sum exact scaled
    * longs (order-independent decimal-summed bins), one division back at the
    * end — see [[graft.functions.WeightedHisto]]. Declarative Histo2D-style
    * result (non-empty bins only).
    */
  def HistoWeightedD(
      xCol: String, wCol: String, nbins: Int, lo: Double, hi: Double,
      wScale: Int = 2): DataFrame =
    graft.functions.WeightedHisto(toDF, col(xCol), col(wCol), nbins, lo, hi, wScale)

  // ---- instant actions ------------------------------------------------------

  /** Materialized DataFrame view of this node (defines + filters applied). */
  def toDF: DataFrame = {
    val defines = steps.collect { case d: DefineStep => d }
    val wide = defines.foldLeft(ctx.base) { case (df, DefineStep(n, e)) => df.withColumn(n, e) }
    steps.collect { case FilterStep(_, p) => p }.foldLeft(wide)(_ where _)
  }

  /** Reference `Foreach` (TDataFrame.hxx:805-813): instant — booked into the
    * shared batch and triggered immediately, so every pending action runs in
    * the same pass (TDFGuide.md:288-291): `f` runs inside the fused fold's
    * job, on each entry that passes this node. User owns thread-safety.
    */
  def Foreach(cols: Seq[String])(f: Row => Unit): Unit = ForeachSlot(cols)((_, r) => f(r))

  /** Reference `ForeachSlot`: slot = partition id (TDFGuide.md:220-233). */
  def ForeachSlot(cols: Seq[String])(f: (Int, Row) => Unit): Unit =
    foreach(cols.map(_ -> None), f)

  private def foreach(cols: Seq[(String, Option[ValueKind])], f: (Int, Row) => Unit): Unit =
    bookForeach(cols, f)()

  /** books `f` on the passing entries' `cols` without running the batch */
  private[tdf] def bookForeach(
      cols: Seq[(String, Option[ValueKind])], f: (Int, Row) => Unit): Result[Unit] =
    ctx.book[Unit](steps, FoldSpec(cols, UserFold(f, (_, s, r) => f(s, r), (_, _) => ()), _ => ()))

  /** catalyst type for a lambda argument, so the column can be up-cast to the
    * exact runtime class the callable expects (an Int column handed to a
    * Double lambda would otherwise ClassCastException inside the executor).
    * None for Catalyst-unrepresentable types — those fall back to the raw
    * row path.
    */
  private def dtOf[T: TypeTag]: Option[org.apache.spark.sql.types.DataType] =
    scala.util.Try(
      org.apache.spark.sql.catalyst.ScalaReflection.schemaFor[T].dataType).toOption

  /** Per-argument coercions: a Catalyst-underivable argument type only
    * disables the cast for ITS column (raw value passthrough), not for the
    * whole argument list — a representable Int column bound to a Double
    * parameter still coerces even when a sibling argument is opaque.
    */
  private def typed(cols: Seq[String], dts: Option[DataType]*): Seq[(String, Option[ValueKind])] =
    pickN(cols, dts.length, "Foreach").zip(dts.map(_.map(Raw(_))))

  /** Typed-lambda `Foreach` (reference TDataFrame.hxx:805-813 takes a callable
    * + branch list): values handed to the callable directly, no Row plumbing;
    * columns are coerced to the callable's argument types.
    */
  def Foreach[A: TypeTag](f: A => Unit, cols: Seq[String]): Unit =
    foreach(typed(cols, dtOf[A]), (_, r) => f(r.getAs[A](0)))
  def Foreach[A: TypeTag, B: TypeTag](f: (A, B) => Unit, cols: Seq[String]): Unit =
    foreach(typed(cols, dtOf[A], dtOf[B]), (_, r) => f(r.getAs[A](0), r.getAs[B](1)))
  def Foreach[A: TypeTag, B: TypeTag, C: TypeTag](
      f: (A, B, C) => Unit, cols: Seq[String]): Unit =
    foreach(typed(cols, dtOf[A], dtOf[B], dtOf[C]),
      (_, r) => f(r.getAs[A](0), r.getAs[B](1), r.getAs[C](2)))

  /** Reference planned `Snapshot` (TDFGuide.md:383): write the skim and
    * return a new frame over it.
    */
  def Snapshot(path: String, cols: Seq[String] = Nil): TDF = {
    val df = if (cols.isEmpty) toDF else toDF.select(cols.map(col): _*)
    df.write.mode("overwrite").parquet(path)
    TDF.read(spark, path)
  }

  /** Snapshot to ORC — same contract, the other pushdown-capable columnar
    * sink ([[TDF.readOrc]] reopens it).
    */
  def SnapshotOrc(path: String, cols: Seq[String] = Nil): TDF = {
    val df = if (cols.isEmpty) toDF else toDF.select(cols.map(col): _*)
    df.write.mode("overwrite").orc(path)
    TDF.readOrc(spark, path)
  }

  /** Snapshot partitioned by columns — downstream filters on the partition
    * columns prune whole directories at the scan (the 100 TB layout lever
    * for selective reads).
    */
  def SnapshotPartitioned(path: String, partitionCols: Seq[String]): TDF = {
    toDF.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    TDF.read(spark, path)
  }

  /** Snapshot into a bucketed (+ bucket-sorted) table: repeated joins or
    * aggregations on the bucket key then run bucket-to-bucket with NO
    * shuffle exchange (BucketedJoinSpec demonstrates the zero-shuffle join).
    * Bucketed output requires the table catalog, hence a table name rather
    * than a bare path.
    */
  def SnapshotBucketed(
      table: String, bucketCol: String, nBuckets: Int,
      path: Option[String] = None): TDF = {
    val w = toDF.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
    // explicit path -> an EXTERNAL bucketed table (data where the caller
    // says, catalog entry only for the bucketing metadata); otherwise the
    // session warehouse holds it as a managed table
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
    TDF(spark.table(table))
  }

  /** Snapshot range-sorted by columns: `repartitionByRange` then
    * `sortWithinPartitions` before the write, so each output file covers a
    * disjoint key range and every row-group's parquet min/max statistics are
    * tight — downstream range filters skip whole files and row-groups at the
    * scan. The sort-based layout lever (z-order's 1-D case) next to
    * [[SnapshotPartitioned]] (directory pruning, for low-cardinality keys)
    * and [[SnapshotBucketed]] (shuffle-free joins).
    */
  def SnapshotSorted(path: String, sortCols: Seq[String], numFiles: Int = 0): TDF = {
    val cs = sortCols.map(col)
    val ranged =
      if (numFiles > 0) toDF.repartitionByRange(numFiles, cs: _*)
      else toDF.repartitionByRange(cs: _*)
    ranged.sortWithinPartitions(cs: _*).write.mode("overwrite").parquet(path)
    TDF.read(spark, path)
  }

  /** Snapshot z-ordered by two integer columns: rows are range-partitioned
    * and sorted by the Morton-interleaved value
    * ([[graft.functions.ZOrder.zorder2]]), so each file clusters BOTH
    * dimensions and parquet min/max statistics prune range filters on either
    * column — the multi-dimensional layout lever next to [[SnapshotSorted]].
    */
  def SnapshotZOrdered(
      path: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16): TDF =
    SnapshotZOrderedN(path, Seq(xCol, yCol), numFiles, bits)

  /** the N-column form ([[graft.functions.ZOrder.zorderN]]) — the 3+-column
    * clustering a real table wants (`cols.size * bits` ≤ 63)
    */
  def SnapshotZOrderedN(
      path: String, cols: Seq[String], numFiles: Int, bits: Int = 16): TDF = {
    val z = graft.functions.ZOrder.zorderN(cols.map(col), bits)
    toDF.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    TDF.read(spark, path)
  }

  /** Reference planned `Reduce` (TDFGuide.md:379-381) over a column cast to
    * double: an instant booked action, like [[Foreach]], so pending actions
    * ride along. Each slot reduces its passing values in entry order; the
    * driver reduces the slots' partials in partition order. With no passing
    * value it throws what `Dataset.reduce` throws on empty input.
    */
  def Reduce(column: String)(f: (Double, Double) => Double): Double =
    Accumulate[Option[Double]](pick(column, "Reduce"), None)((o, x) => Some(o.fold(x)(f(_, x))))(
      (a, b) => Some(f(a.get, b.get))).getOrElse(throw GraftSql.emptyCollectionError())

  /** Reference planned `Accumulate` (TDFGuide.md:379-381): general fold with
    * a typed accumulator over a column cast to double — an instant booked
    * action, like [[Foreach]]. Each slot with a passing value folds from
    * `init`; the driver combines those partials with `merge` in partition
    * order (the reference's per-slot Operation + end-of-loop merge shape,
    * TDataFrame.hxx:385-684), and returns `init` when no value passed.
    * `merge` must be associative and commutative for a deterministic result
    * under any partitioning.
    */
  def Accumulate[U](column: String, init: U)(acc: (U, Double) => U)(merge: (U, U) => U): U =
    ctx.book[U](steps, FoldSpec(Seq(pick(column, "Accumulate") -> Some(Scalar)), UserFold(
      (_, r) => acc(init, r.getDouble(0)), (u, _, r) => acc(u.asInstanceOf[U], r.getDouble(0)),
      (a, b) => merge(a.asInstanceOf[U], b.asInstanceOf[U])), _.getOrElse(init)))()
}

object TDF {
  /** Adopt an existing DataFrame (reference ctor TDataFrame.hxx:725). */
  def apply(df: DataFrame, defaultColumns: Seq[String] = Nil, compat: Boolean = false): TDF =
    of(new BookingContext(df, compat), defaultColumns)
  private[tdf] def of(ctx: BookingContext, defaultColumns: Seq[String] = Nil): TDF =
    new TDF(ctx, Vector.empty, defaultColumns)
  /** Open a dataset from storage (reference ctor TDataFrame.hxx:716); parquet
    * path or glob — multi-file is the TChain analog.
    */
  def read(spark: SparkSession, path: String, defaultColumns: Seq[String] = Nil): TDF =
    apply(spark.read.parquet(path), defaultColumns)

  /** CSV source (header + schema inference by default — pass an explicit
    * schema for production reads; inference scans the data twice).
    */
  def readCsv(
      spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      defaultColumns: Seq[String] = Nil): TDF = {
    val r = spark.read.option("header", "true")
    val df = schema match {
      case Some(s) => r.schema(s).csv(path)
      case None => r.option("inferSchema", "true").csv(path)
    }
    apply(df, defaultColumns)
  }

  /** JSON-lines source (explicit schema recommended at scale). */
  def readJson(
      spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      defaultColumns: Seq[String] = Nil): TDF = {
    val df = schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None => spark.read.json(path)
    }
    apply(df, defaultColumns)
  }

  /** ORC source — the other columnar format with full pushdown/pruning
    * support in Spark's native readers (schema travels in the file, like
    * parquet).
    */
  def readOrc(spark: SparkSession, path: String, defaultColumns: Seq[String] = Nil): TDF =
    apply(spark.read.orc(path), defaultColumns)

  /** Compact a parquet directory toward `targetFileBytes` per output file —
    * the small-files remedy. Directories accreted by incremental writes
    * (streaming micro-batches, many-task jobs) degrade scans with per-file
    * open/footer costs; this rewrites to `ceil(totalBytes / targetFileBytes)`
    * files via `coalesce` (narrow — no shuffle, tasks merge whole input
    * files). Sizing uses the Hadoop FileSystem listing, so it works on any
    * supported storage, not just local paths. Writes to `destPath` (a scan
    * cannot overwrite its own input) and returns the reopened frame.
    * Caveat: write parallelism equals the output file count — a petabyte
    * directory compacting to few files serialises onto few tasks; at that
    * scale run compact per partition directory (the unit
    * [[SnapshotPartitioned]] produces) so compactions parallelise across
    * partitions while each stays narrow.
    */
  def compact(
      spark: SparkSession, srcPath: String, destPath: String,
      targetFileBytes: Long = 128L << 20): TDF = {
    compactInto(spark, srcPath, destPath, targetFileBytes)
    read(spark, destPath)
  }

  /** the write half of [[compact]], without reopening the destination —
    * [[compactPartitions]] fans many of these out and reopens the root once
    */
  private def compactInto(
      spark: SparkSession, srcPath: String, destPath: String,
      targetFileBytes: Long): Unit = {
    require(targetFileBytes > 0, s"targetFileBytes must be > 0, got $targetFileBytes")
    val p = new org.apache.hadoop.fs.Path(srcPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(srcPath).coalesce(nFiles)
      .write.mode("overwrite").parquet(destPath)
  }

  /** Per-partition compaction — the petabyte-scale form of [[compact]]:
    * each LEAF partition directory of a [[TDF.SnapshotPartitioned]] layout
    * (nested `key1=…/key2=…` layouts are walked to their leaves, so inner
    * partition columns keep their directories — and their pruning) compacts
    * independently, with its own Hadoop-FS sizing and its own narrow
    * `coalesce`. The per-directory jobs are SUBMITTED CONCURRENTLY from a
    * bounded thread pool (Spark's scheduler runs concurrent jobs fine): each
    * compaction is narrow and small by construction, so with serial
    * submission a thousand-partition dataset would wait on a thousand
    * driver round-trips; `parallelism` bounds the in-flight jobs instead.
    * Partition discovery on the destination restores the partition columns.
    */
  def compactPartitions(
      spark: SparkSession, srcPath: String, destPath: String,
      targetFileBytes: Long = 128L << 20, parallelism: Int = 8): TDF = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    val root = new org.apache.hadoop.fs.Path(srcPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: org.apache.hadoop.fs.Path, rel: String): Seq[String] = {
      val subs = fs.listStatus(dir)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (subs.isEmpty) Seq(rel)
      else subs.toSeq.flatMap(s => leaves(s.getPath, s"$rel/${s.getPath.getName}"))
    }
    val parts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap(s => leaves(s.getPath, s.getPath.getName))
    require(parts.nonEmpty, s"compactPartitions: no key=value directories under $srcPath")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, parts.length))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val jobs = parts.toSeq.map { rel =>
        scala.concurrent.Future {
          compactInto(spark, s"$srcPath/$rel", s"$destPath/$rel", targetFileBytes)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(jobs),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    read(spark, destPath)
  }

  /** Binary-file source (`binaryFile` format): one row per file with
    * `(path, modificationTime, length, content)` — the ingest edge for
    * multimodal corpora, where raw image/audio/video files land on
    * distributed storage before being packed into parquet
    * ([[graft.ops.Multimodal]] consumes the same binary-column shape).
    * `glob` filters by name at the LISTING (`pathGlobFilter`), so non-matching
    * files are never opened; a `length` predicate prunes on file metadata
    * before any content is read.
    */
  def readBinaryFiles(spark: SparkSession, path: String, glob: Option[String] = None): TDF = {
    val reader = spark.read.format("binaryFile")
    apply(glob.fold(reader)(g => reader.option("pathGlobFilter", g)).load(path))
  }
}
