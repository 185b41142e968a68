package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.SparkEntry
import graft.functions.HistogramAggExpr
import graft.tdf.{Result, TDF}

/** One booked action's answer in canonical form: a flat sequence of longs
  * (compared exactly) and doubles (compared within [[Check.Tol]]).
  */
object Check {
  /** the tolerance TDFSpec uses, taken relative above magnitude 1 */
  val Tol = 1e-12

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x == y
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= Tol * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => false
  }

  def diff(got: Seq[(String, Seq[Any])], want: Map[String, Seq[Any]]): Seq[String] =
    got.flatMap { case (k, g) =>
      val w = want.getOrElse(k, Nil)
      if (g.length == w.length && g.zip(w).forall { case (a, b) => same(a, b) }) None
      else Some(s"$k: got ${g.take(9).mkString(",")} want ${w.take(9).mkString(",")}")
    }
}

/** A named Filter on a shared root and the actions booked behind it. */
final case class Branch(
    cut: String, pred: Column, value: String, fixed: (Int, Double, Double),
    autoCol: String, actions: Seq[String])

/** A TDF chain: one optional shared Define, then one Filter per branch. */
final case class Chain(define: Option[(String, Column)], branches: Seq[Branch]) {
  private def base(df: DataFrame): DataFrame =
    define.fold(df) { case (n, e) => df.withColumn(n, e) }

  /** Books every action through the facade; returns lazy canonical results. */
  def book(df: DataFrame): Seq[(String, () => Seq[Any])] = {
    val root = define.fold(TDF(df)) { case (n, e) => TDF(df).Define(n, e) }
    branches.flatMap { b =>
      val node = root.Filter(b.cut, b.pred)
      def one[T](r: Result[T])(f: T => Seq[Any]) = () => f(r())
      b.actions.map { a =>
        s"${b.cut}/$a" -> (a match {
          case "count" => one(node.Count())(Seq(_))
          case "sum" => one(node.Sum(b.value))(Seq(_))
          case "mean" => one(node.Mean(b.value))(Seq(_))
          case "min" => one(node.Min(b.value))(Seq(_))
          case "max" => one(node.Max(b.value))(Seq(_))
          case "histo" =>
            val (n, lo, hi) = b.fixed
            one(node.Histo(b.value, n, lo, hi))(Chain.canon)
          case "histo_auto" => one(node.Histo(b.autoCol, b.fixed._1))(Chain.canon)
          case "report" => one(node.Report())(_.flatMap(c => Seq(c.pass, c.all)))
        })
      }
    }
  }

  /** Every action as its own plain-DataFrame job: the one-job-per-action
    * way the fused run replaces (timed for `tdf.fused_vs_separate`).
    */
  def separate(df: DataFrame): Unit = {
    val all = base(df)
    for (b <- branches) {
      val f = all.where(b.pred)
      def xs(c: String): DataFrame =
        if (all.schema(c).dataType.isInstanceOf[ArrayType]) f.select(explode(col(c)).as("x"))
        else f.select(col(c).cast("double").as("x"))
      val histo = (x: DataFrame, n: Int, lo: Double, hi: Double) => {
        val w = (hi - lo) / n
        x.groupBy(floor((col("x") - lo) / w)).count().collect()
        x.agg(count(lit(1)), sum(col("x")), sum(col("x") * col("x"))).collect()
      }
      b.actions.foreach {
        case "count" => f.count()
        case "sum" => xs(b.value).agg(sum("x")).collect()
        case "mean" => xs(b.value).agg(avg("x")).collect()
        case "min" => xs(b.value).agg(min("x")).collect()
        case "max" => xs(b.value).agg(max("x")).collect()
        case "histo" => histo(xs(b.value), b.fixed._1, b.fixed._2, b.fixed._3)
        case "histo_auto" =>
          val r = xs(b.autoCol).agg(min("x"), max("x")).head()
          histo(xs(b.autoCol), b.fixed._1, r.getDouble(0), r.getDouble(1))
        case "report" => f.count(); all.count()
      }
    }
  }

  /** The independent answer, computed on the driver: Spark only evaluates
    * each row's cut predicates and values (a plain projection, collected);
    * every action is then a sequential loop over the kept values.
    */
  def reference(df: DataFrame): Map[String, Seq[Any]] = {
    val all = base(df)
    val cols = branches.flatMap(b => Seq(b.value, b.autoCol)).distinct
    val isArr = cols.map(c => all.schema(c).dataType.isInstanceOf[ArrayType])
    val sel = all.select(branches.map(_.pred) ++ cols.zip(isArr).map {
      case (c, true) => col(c).cast("array<double>")
      case (c, false) => col(c).cast("double")
    }: _*)
    val nb = branches.size
    val kept = Array.fill(nb, cols.size)(Array.newBuilder[Double])
    val pass = Array.fill(nb)(0L)
    var rows = 0L
    sel.collect().foreach { r =>
      rows += 1
      var i = 0
      while (i < nb) {
        if (!r.isNullAt(i) && r.getBoolean(i)) {
          pass(i) += 1
          var j = 0
          while (j < cols.size) {
            if (isArr(j)) r.getSeq[Double](nb + j).foreach(kept(i)(j) += _)
            else kept(i)(j) += r.getDouble(nb + j)
            j += 1
          }
        }
        i += 1
      }
    }
    branches.zipWithIndex.flatMap { case (b, i) =>
      val xs = kept(i)(cols.indexOf(b.value)).result()
      val ax = kept(i)(cols.indexOf(b.autoCol)).result()
      val nan = Double.NaN
      b.actions.map { a =>
        s"${b.cut}/$a" -> (a match {
          case "count" => Seq(pass(i))
          case "sum" => Seq(xs.sum)
          case "mean" => Seq(if (xs.isEmpty) nan else xs.sum / xs.length)
          case "min" => Seq(if (xs.isEmpty) nan else xs.min)
          case "max" => Seq(if (xs.isEmpty) nan else xs.max)
          case "histo" => Chain.refHisto(xs, b.fixed._1, b.fixed._2, b.fixed._3)
          case "histo_auto" =>
            val (mn, mx) = if (ax.isEmpty) (0.0, 1.0) else (ax.min, ax.max)
            // the TH1 auto-range convention the facade documents
            val (lo, hi) = if (mn == mx) (mn - 0.5, mx + 0.5) else (mn, mx + (mx - mn) * 1e-9)
            Chain.refHisto(ax, b.fixed._1, lo, hi)
          case "report" => Seq(pass(i), rows)
        })
      }
    }.toMap
  }
}

object Chain {
  val All8: Seq[String] =
    Seq("count", "sum", "mean", "min", "max", "histo", "histo_auto", "report")

  def canon(h: graft.functions.Histogram): Seq[Any] =
    Seq(h.lo, h.hi, h.underflow, h.overflow, h.entries, h.sumx, h.sumx2) ++ h.counts.toSeq

  /** bin i covers [lo + i*w, lo + (i+1)*w), below lo underflows, >= hi overflows */
  def refHisto(xs: Array[Double], n: Int, lo: Double, hi: Double): Seq[Any] = {
    val w = (hi - lo) / n
    val counts = new Array[Long](n)
    var (under, over) = (0L, 0L)
    for (x <- xs)
      if (x < lo) under += 1
      else if (x >= hi) over += 1
      else counts(math.min(math.floor((x - lo) / w).toInt, n - 1)) += 1
    Seq(lo, hi, under, over, xs.length.toLong, xs.sum, xs.map(x => x * x).sum) ++ counts.toSeq
  }
}

/** A benchmark workload over one input table: its TDF chain at full width
  * (`main`, the `result_s` unit, also timed on one core) and at 8 booked
  * actions (`narrow`), and their reference answers.
  */
abstract class Workload(val dir: String) {
  /** rows of the input table one unit reads */
  def inputRows: Long
  /** writes the input table into `dir` */
  def prepare(spark: SparkSession): Unit
  def input(spark: SparkSession): DataFrame
  def mainChain: Chain
  def narrowChain: Chain
  /** single-layer timings made outside the traced units */
  def extras(spark: SparkSession): Map[String, Double] = fusedVsSeparate(spark)
  /** gate passes timed in this workload's traced runs */
  def gates: Option[GatePass] = None
  /** untimed (main, narrow) unit pairs before timing: on 4 cores both
    * workloads' units took 6 to 10 pairs to reach their steady speed
    */
  val warmPairs: Int = 8

  private var want = Map.empty[String, Seq[Any]]

  private def unit(spark: SparkSession, tr: Tracer, c: Chain): Seq[(String, Seq[Any])] = {
    val booked = tr.span("tdf.book", "actions" -> c.branches.map(_.actions.size).sum) {
      c.book(input(spark))
    }
    tr.span("tdf.deref") { booked.map { case (k, r) => k -> r() } }
  }
  def main(spark: SparkSession, tr: Tracer): Seq[(String, Seq[Any])] = unit(spark, tr, mainChain)
  def narrow(spark: SparkSession, tr: Tracer): Seq[(String, Seq[Any])] =
    unit(spark, tr, narrowChain)

  /** computes the reference answers of every branch of both chains (they
    * share the Define) in one pass; returns the wall of doing so
    */
  def reference(spark: SparkSession): Double = {
    val t = System.nanoTime()
    val branches = (mainChain.branches ++ narrowChain.branches)
      .map(b => b.cut -> b.copy(actions = Chain.All8)).toMap.values.toSeq
    want = Chain(mainChain.define, branches).reference(input(spark))
    (System.nanoTime() - t) / 1e9
  }
  def check(got: Seq[(String, Seq[Any])]): Seq[String] = Check.diff(got, want)

  /** The 8-action unit's actions each as its own plain-DataFrame job
    * (`tdf.separate_s`) against the fused, untraced 8-action unit
    * (`tdf.fused8_s`): one untimed warm-up of the separate jobs (the fused
    * unit is already warm), then three alternating samples of each, medians.
    */
  protected def fusedVsSeparate(spark: SparkSession): Map[String, Double] = {
    val untraced = new Tracer
    def wall(f: => Unit) = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    narrowChain.separate(input(spark))
    val pairs = Seq.fill(3)(
      (wall(narrowChain.separate(input(spark))), wall(narrow(spark, untraced))))
    Map("tdf.separate_s" -> Stats.median(pairs.map(_._1)),
      "tdf.fused8_s" -> Stats.median(pairs.map(_._2)))
  }
}

/** `hep_scan`: the reference benchmark chain over generated events. */
final class HepScan(dir: String, seed: Long, cores: Int) extends Workload(dir) {
  val events = 600000L
  private val path = s"$dir/hep_events.parquet"
  private val fixed = (64, 0.0, 32.0)
  def inputRows: Long = events
  def prepare(spark: SparkSession): Unit = Inputs.hepEvents(spark, path, events, seed, 2 * cores)
  def input(spark: SparkSession): DataFrame = spark.read.parquet(path)
  private def chain(actions: Seq[String]) = Chain(Some("tracks_n" -> size(col("tracks_pt"))),
    Seq(Branch("tracks_n > 2", col("tracks_n") > 2, "tracks_pt", fixed, "tracks_pt", actions)))
  val mainChain = chain(Seq("histo", "histo_auto", "count", "mean", "report"))
  val narrowChain = chain(Chain.All8)

  override def extras(spark: SparkSession): Map[String, Double] = {
    def med3(f: => Unit) = Stats.median(Seq.fill(3) {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    })
    val (n, lo, hi) = fixed
    fusedVsSeparate(spark) ++ Map(
      "scan.noop_s" -> med3(input(spark).select("tracks_pt").write.format("noop")
        .mode("overwrite").save()),
      "functions.histo_direct_s" -> med3(
        input(spark).agg(HistogramAggExpr.histo(col("tracks_pt"), n, lo, hi)).collect()))
  }
}

/** `booked_fanout`: 8 named filters × 8 actions on a shared Define, over
  * the sf0.1 lineitem's rows.
  */
final class BookedFanout(dir: String, data: String, seed: Long, cores: Int)
    extends Workload(dir) {
  val rows = 600000L
  private val path = s"$dir/lineitem.parquet"
  def inputRows: Long = rows
  /** the committed single-file table, rewritten as `cores` files so the
    * scan splits across every core
    */
  def prepare(spark: SparkSession): Unit =
    Inputs.writeDir(spark.read.parquet(s"$data/sf0.1/lineitem.parquet").repartition(cores), path)
  def input(spark: SparkSession): DataFrame = spark.read.parquet(path)
  private val branches = {
    val rnd = new scala.util.Random(seed)
    (0 until 8).map { k =>
      // quantity is uniform on 1..50, and each discount in 0.01..0.09
      // holds a tenth of the rows: a window of 25 quantities and 6 inner
      // discounts keeps 3/10 of the rows wherever the seed puts it, so
      // every seed does the same work
      val (q, d) = (1 + rnd.nextInt(26), 1 + rnd.nextInt(4))
      Branch(s"b$k: qty $q..${q + 24} disc 0.0$d..0.0${d + 5}",
        col("l_quantity").between(q - 0.5, q + 24.5) &&
          col("l_discount").between((d - 0.5) / 100, (d + 5.5) / 100),
        "net", (50, 0.0, 100000.0), "l_quantity", Chain.All8)
    }
  }
  private val net = Some("net" -> col("l_extendedprice") * (lit(1.0) - col("l_discount")))
  val mainChain = Chain(net, branches)
  val narrowChain = Chain(net, branches.take(1))
  override val gates: Option[GatePass] = Some(new GatePass(s"$data/sf0.01"))
}

/** One pass over five `SparkEntry.queries` gates on the committed sf0.01
  * tables in `dir`, each built by the program and executed through the
  * `noop` sink. None reads a session-memoized `artifact(...)`, so every pass
  * does the whole work.
  */
final class GatePass(val dir: String) {
  import GatePass.Gates

  def run(spark: SparkSession, tr: Tracer): Seq[(String, Seq[Any])] = {
    for (g <- Gates) {
      val df = tr.span("gate.build", "gate" -> g) { SparkEntry.queries(g)(spark, dir) }
      tr.span("gate.exec", "gate" -> g) { df.write.format("noop").mode("overwrite").save() }
    }
    Nil
  }

  /** a pass writing each gate's output as parquet for the DuckDB oracle;
    * returns each gate's oracle SQL
    */
  def writeOutputs(spark: SparkSession, outDir: String): Map[String, String] = {
    for (g <- Gates)
      SparkEntry.queries(g)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$g")
    Gates.map(g => g -> SparkEntry.oracleSql(g)).toMap
  }
}

object GatePass {
  /** the gates of a pass; the raw record carries them, and the `gate.<g>.*`
    * metric names are made from it
    */
  val Gates = Seq("q_dedup_containment", "q_ann_pq_index", "q_part_upsert",
    "q_stream_upsert", "q_graph_pagerank")
}

object Workload {
  def apply(name: String, dir: String, data: String, seed: Long, cores: Int): Workload =
    name match {
      case "hep_scan" => new HepScan(dir, seed, cores)
      case "booked_fanout" => new BookedFanout(dir, data, seed, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}
