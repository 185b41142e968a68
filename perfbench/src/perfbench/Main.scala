package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark run in one JVM: set-up, timed units, raw record.
  *
  * `run.py` starts it as
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --run DIR --data D --cores C`
  * (`D` holds the committed input tables) and turns the raw record it
  * writes to `DIR/raw.json` into metrics.
  *
  * Phases: set-up (session; the input table written three times), the
  * reference answers, untimed warm-up units, then timed units at all cores
  * (the full and the 8-action unit alternating). A traced run alternates
  * untraced units with units run under the tracer's listeners, then times
  * the single-layer extras, the traced gate passes where the workload has
  * them, and the unit in a 1-core session (`local[1]`, one shuffle
  * partition) after one warm-up unit there; its end-to-end numbers are
  * never traced ones.
  */
object Main {
  /** after this much wall a timed loop stops at its first unit (the run's
    * hard cap is 180 s)
    */
  private val HardStopS = 140.0

  def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(f => Files.deleteIfExists(f))
    }

  def session(cores: Int, run: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$run/local")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (name, seed, seconds) = (opt("workload"), opt("seed").toLong, opt("seconds").toDouble)
    val (traced, run, cores) = (opt("trace") == "1", opt("run"), opt("cores").toInt)
    val data = opt("data")
    System.setProperty("graft.scratch.root", s"$run/scratch")
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores, "traced" -> traced)
    val tr = new Tracer
    val runStart = System.nanoTime()

    val t0 = System.nanoTime()
    var spark = session(cores, run)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = since(t0)
    val w = Workload(name, s"$run/data", data, seed, cores)
    val prepareS = Seq.fill(3) {
      val t = System.nanoTime(); w.prepare(spark); since(t)
    }
    // the reference collects the whole input to the driver: done before the
    // warm-up, so its garbage and its code do not disturb the timed units
    val referenceS = w.reference(spark)
    val t2 = System.nanoTime()
    // warmed as timed: the full and the 8-action unit alternating
    for (_ <- 1 to w.warmPairs) { w.main(spark, tr); w.narrow(spark, tr) }
    val warmS = since(t2)

    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def unit(kind: String, key: String): Unit = {
      attempted += 1
      val t = System.nanoTime()
      val got = try Right(tr.span("iteration", "unit" -> key) {
        kind match {
          case "main" => w.main(spark, tr)
          case "narrow" => w.narrow(spark, tr)
          case "gates" => w.gates.get.run(spark, tr)
        }
      }) catch { case e: Exception => Left(Seq(s"$key: $e")) }
      val s = since(t)
      val bad = got.fold(identity, g => if (kind == "gates") Nil else w.check(g))
      if (bad.isEmpty) samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += s
      else { failed += 1; failures ++= bad.take(3) }
    }
    /** times `kind` units for `share` of the run's seconds, and at least
      * `min` times (once, when the run is near its hard cap)
      */
    def loop(kind: String, key: String, share: Double, min: Int): Unit = {
      val from = System.nanoTime()
      var n = 0
      while (n == 0 ||
          ((n < min || since(from) < share * seconds) && since(runStart) < HardStopS)) {
        unit(kind, key); n += 1
      }
      samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
    }

    val measureStart = System.nanoTime()
    if (!traced) {
      // the two unit kinds alternate, so drift in the machine's speed and
      // the JIT's later work fall on both alike
      val from = System.nanoTime()
      var n = 0
      while (n == 0 ||
          ((n < 6 || since(from) < seconds) && since(runStart) < HardStopS)) {
        unit("main", "result_s"); unit("narrow", "fanout8_result_s"); n += 1
      }
    } else {
      // untraced and traced units alternate, so the tracing overhead is
      // measured under the same warm-up
      def traced(kind: String, key: String): Unit = {
        tr.start(spark); unit(kind, key); tr.stop(spark)
      }
      val t3 = tr.nowMs
      val from = System.nanoTime()
      var n = 0
      while (n == 0 || ((n < 3 || since(from) < 0.4 * seconds) && since(runStart) < HardStopS)) {
        // ABBA order: a warming trend favours neither side
        if (n % 2 == 0) { unit("main", "untraced_result_s"); traced("main", "traced_result_s") }
        else { traced("main", "traced_result_s"); unit("main", "untraced_result_s") }
        n += 1
      }
      for (_ <- 1 to 3) traced("narrow", "traced_fanout8_result_s")
      tr.mark("workload", t3, tr.nowMs, "workload" -> name)
      out("extras") = w.extras(spark)
      // the gate pass: one warm-up pass that writes the outputs the DuckDB
      // oracle checks, then one traced pass
      for (g <- w.gates) {
        out("oracle_sql") = g.writeOutputs(spark, s"$run/oracle_out")
        out("oracle_data") = g.dir
        val t4 = tr.nowMs
        traced("gates", "traced_gates_s")
        tr.mark("workload", t4, tr.nowMs, "workload" -> "gates")
      }
    }
    out("conf") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.master") || k == "spark.local.dir" ||
        k == "spark.default.parallelism"
    }

    stopSession(spark)
    if (traced) {
      // the 1-thread unit: a fresh local[1] session over the same inputs
      spark = session(1, run)
      spark.sparkContext.setLogLevel("ERROR")
      w.main(spark, tr)
      loop("main", "result_p1_s", 0.3, 3)
      stopSession(spark)
    }

    out("setup") = Map("session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmS,
      "warmup_pairs" -> w.warmPairs)
    out("reference_s") = referenceS
    out("samples") = samples.map { case (k, v) => k -> v.toSeq }.toMap
    out("input_rows") = w.inputRows
    out("gates") = GatePass.Gates
    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures.take(20).toSeq
    out("vm_hwm_mb") = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    out("xmx_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    out("measure_s") = since(measureStart)
    if (traced) out("trace") = tr.record
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(s"$run/raw.json").toFile, out)
  }
}
