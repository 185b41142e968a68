package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's trace: spans kept in memory, written out once at the end.
  *
  * Benchmark spans (workload, iteration, tdf.book, tdf.deref, gate.build,
  * gate.exec, ...) are opened by the benchmark's own code around calls into
  * the program. Spark spans come from the public listener APIs: `spark.job`
  * and `spark.stage` from a [[SparkListener]], `catalyst.<phase>` from the
  * [[QueryExecutionListener]] (the query's `QueryPlanningTracker` phases) and
  * `stream.trigger` from a [[StreamingQueryListener]]. A job finds its
  * benchmark span through the local property [[SpanKey]], which Spark copies
  * into every job's properties (and which stream threads inherit); a query's
  * phases find theirs through the job that carries the query's execution id,
  * else (as do triggers) by time. Times are epoch milliseconds.
  */
final class Tracer {
  import Tracer._

  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  @volatile private var on = false
  private var nextId = 0
  private var stack: List[String] = Nil
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def add(s: Map[String, Any]): Unit = spans.synchronized { spans += s; () }

  /** Runs `body` inside a span (a no-op wrapper while tracing is off). */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = s"b$nextId"
      val parent = stack.headOption.orNull
      val sc = SparkSession.active.sparkContext
      sc.setLocalProperty(SpanKey, id)
      stack = id :: stack
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.orNull)
        add(Map("id" -> id, "name" -> name, "parent" -> parent,
          "start" -> start, "end" -> end) ++ attrs)
      }
    }

  /** Records a span that enclosed other spans after the fact. */
  def mark(name: String, start: Double, end: Double, attrs: (String, Any)*): Unit = {
    nextId += 1
    add(Map("id" -> s"b$nextId", "name" -> name, "parent" -> null,
      "start" -> start, "end" -> end) ++ attrs)
  }

  // ---- Spark listeners -----------------------------------------------------

  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inRows = 0L; var inBytes = 0L; var shWrite = 0L; var shRead = 0L; var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobStarts = mutable.Map.empty[Int, (Long, String, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAcc = mutable.Map.empty[(Int, Int), StageAcc]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronizedOn {
      val p = Option(e.properties)
      jobStarts(e.jobId) = (e.time,
        p.flatMap(x => Option(x.getProperty(SpanKey))).orNull,
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).orNull)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronizedOn {
      jobStarts.remove(e.jobId).foreach { case (start, span, exec) =>
        add(Map("id" -> s"j${e.jobId}", "name" -> "spark.job", "parent" -> span,
          "start" -> start.toDouble, "end" -> e.time.toDouble,
          "exec_id" -> Option(exec).map(_.toLong).getOrElse(-1L),
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronizedOn {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
        a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inRows += m.inputMetrics.recordsRead; a.inBytes += m.inputMetrics.bytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.taskMs += m.executorRunTime
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronizedOn {
      val i = e.stageInfo
      val a = stageAcc.remove((i.stageId, i.attemptNumber())).getOrElse(new StageAcc)
      val end = i.completionTime.getOrElse(System.currentTimeMillis())
      add(Map("id" -> s"s${i.stageId}.${i.attemptNumber()}", "name" -> "spark.stage",
        "parent" -> stageJob.get(i.stageId).map(j => s"j$j").orNull,
        "start" -> i.submissionTime.getOrElse(end).toDouble, "end" -> end.toDouble,
        "tasks" -> a.tasks, "task_run_ms" -> a.runMs, "task_cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "input_rows" -> a.inRows, "input_bytes" -> a.inBytes,
        "shuffle_write_bytes" -> a.shWrite, "shuffle_read_bytes" -> a.shRead,
        "spill_bytes" -> a.spill, "task_ms" -> a.taskMs.toSeq))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronizedOn {
        for ((phase, p) <- qe.tracker.phases if phase != "parsing")
          add(Map("id" -> s"q${qe.id}.$phase", "name" -> s"catalyst.$phase", "parent" -> null,
            "start" -> p.startTimeMs.toDouble, "end" -> p.endTimeMs.toDouble,
            "exec_id" -> qe.id))
        val ops = mutable.ArrayBuffer.empty[Seq[Any]]
        operators(qe.executedPlan, 0, ops)
        queries += Map("exec_id" -> qe.id, "func" -> func,
          "wall_ms" -> durationNs / 1e6, "ops" -> ops.toSeq)
      }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronizedOn {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
        add(Map("id" -> s"t${p.runId}.${p.batchId}", "name" -> "stream.trigger",
          "parent" -> null, "start" -> start,
          "end" -> (start + d.getOrElse("triggerExecution", 0L)),
          "duration_ms" -> d, "input_rows" -> p.numInputRows,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
      }
  }

  private def synchronizedOn(body: => Unit): Unit = this.synchronized(body)

  /** Registers the listeners on `spark` and starts recording spans. */
  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stops recording, after every event posted so far has been delivered. */
  def stop(spark: SparkSession): Unit = {
    on = false
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def record: Map[String, Any] = this.synchronized {
    Map("spans" -> spans.toSeq, "queries" -> queries.toSeq)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** One compact row per physical operator of the final (adaptive) plan:
    * depth, node name, output rows (-1 when the node has no row count) and
    * the sum of its timing metrics in ms.
    */
  def operators(p: SparkPlan, depth: Int, out: mutable.ArrayBuffer[Seq[Any]]): Unit = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan, depth, out)
    case q: QueryStageExec => operators(q.plan, depth, out)
    case _ =>
      val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      val ms = p.metrics.values.toSeq.map { m =>
        m.metricType match {
          case "timing" => m.value.toDouble
          case "nsTiming" => m.value / 1e6
          case _ => 0.0
        }
      }.sum
      out += Seq(depth, p.nodeName, rows, ms)
      p.children.foreach(operators(_, depth + 1, out))
  }
}
