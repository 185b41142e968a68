package graft

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, DecimalNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the bench mains (`Bench`, `QuietSample`, `ScaleCurves`,
  * `BucketedJoinExperiment`) share: the session they measure in, the plan
  * shape they record, and the JSON writer their records go through.
  */
object Harness {

  /** A bench session and the per-PID root holding its gate scratch
    * (`Tables.scratchRoot`), its warehouse and its `spark.local.dir`.
    */
  final case class Session(spark: SparkSession, root: String) {
    /** deletes the root tree; the session is left as it is */
    def deleteRoot(): Unit = Tables.deleteTree(root)
  }

  /** `local[SPARK_GRAFT_CPUS]` (32 when unset) with as many shuffle
    * partitions, AQE, UTC and no UI. Scans split at 1 MB (256 KB open cost):
    * the local testdata files are ~10 MB, and the 128 MB default would hand
    * each table to one task. Everything the run writes lives under
    * `/tmp/graft_<name>_<pid>`, so two JVMs on one box never share a path.
    */
  def session(name: String): Session = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val root = s"/tmp/graft_${name}_${ProcessHandle.current().pid()}"
    System.setProperty("graft.scratch.root", s"$root/scratch")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-$name")
      .config("spark.local.dir", root)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.warehouse.dir", s"$root/wh")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Session(spark, root)
  }

  /** (shuffles, broadcasts) of `df`'s pre-execution physical plan: the
    * contention-robust regression signal, since an exchange appearing or
    * disappearing is a plan change even when the wall is noise. A
    * `ReusedExchange` re-reads another exchange's output, so it is not a
    * new shuffle.
    */
  def planCounts(df: DataFrame): (Int, Int) = {
    val p = df.queryExecution.executedPlan.toString
    def count(s: String) = s.r.findAllIn(p).size
    val broadcasts = count("BroadcastExchange")
    (count("Exchange") - broadcasts - count("ReusedExchange"), broadcasts)
  }

  /** a stream twin's telemetry: its micro-batches, its final state-store
    * rows and its first 64 per-trigger walls (ms)
    */
  def streamRow(s: graft.streaming.Streams.Stats): ObjectNode =
    obj("batches" -> s.batches, "state_rows" -> s.stateRows,
      "batch_ms" -> s.batchWallsMs.take(64))

  // exact decimals: the default factory strips trailing zeros (0.500 → 0.5)
  private val nodes = JsonNodeFactory.withExactBigDecimals(true)
  private val mapper = new ObjectMapper()
    .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)

  /** An object of `fields`, in order. A value is a JSON node, a string, an
    * Int, a Long, a Boolean, a map (an object, in its order) or any other
    * iterable (an array); a Double must say its decimals through [[num]].
    */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = nodes.objectNode()
    fields.foreach { case (k, v) => o.set[JsonNode](k, node(v)) }
    o
  }

  /** `x` with exactly `decimals` places, rounded as `%.Nf` rounds it in any
    * default locale; null when `x` is not finite
    */
  def num(x: Double, decimals: Int = 3): JsonNode =
    if (x.isNaN || x.isInfinite) nodes.nullNode()
    else new DecimalNode(new java.math.BigDecimal(
      String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(x))))

  def nums(xs: Iterable[Double], decimals: Int = 3): ArrayNode = {
    val a = nodes.arrayNode()
    xs.foreach(x => a.add(num(x, decimals)))
    a
  }

  private def node(v: Any): JsonNode = v match {
    case n: JsonNode => n
    case s: String => nodes.textNode(s)
    case i: Int => nodes.numberNode(i)
    case l: Long => nodes.numberNode(l)
    case b: Boolean => nodes.booleanNode(b)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => (k.toString, x) }: _*)
    case xs: Iterable[_] =>
      val a = nodes.arrayNode()
      xs.foreach(x => a.add(node(x)))
      a
    case d: Double => throw new IllegalArgumentException(s"$d: a Double needs num(x, decimals)")
    case other => throw new IllegalArgumentException(s"no JSON form for $other")
  }

  /** one compact line */
  def write(n: JsonNode): String = mapper.writeValueAsString(n)

  def read(json: String): JsonNode = mapper.readTree(json)
  def read(file: java.io.File): JsonNode = mapper.readTree(file)
}
