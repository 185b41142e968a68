package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftbridge.GraftSql
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared local session for the whole test run. */
object SparkTest {
  /** One scratch directory for the whole test run, deleted when the JVM
    * exits: the tests' own paths, `Tables.scratchRoot` (so the gates the tests
    * build) and the session's warehouse all live under it.
    */
  val scratchRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tests-").toString
    sys.props("graft.scratch.root") = dir
    sys.addShutdownHook(Tables.deleteTree(dir))
    dir
  }

  /** a new directory named `prefix` plus a random suffix under [[scratchRoot]] */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(scratchRoot), prefix)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratchRoot/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The Spark jobs a piece of work started, and the distinct SQL executions
    * they ran under.
    */
  final case class Runs(jobs: Int, executions: Int)

  /** The [[Runs]] of `body` on `spark`. Listener delivery is asynchronous, so
    * the bus is drained before the count starts (no late event of earlier
    * work is counted) and before it is read (no event of `body` is missed).
    */
  def runs(spark: SparkSession)(body: => Unit): Runs = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(s.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(execs.add)
      }
    }
    GraftSql.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftSql.drainListenerBus(sc)
      Runs(jobs.get, execs.size)
    } finally sc.removeSparkListener(listener)
  }

  /** The serialized size of every task result `body` ships to the driver of
    * `spark`, summed; the bus is drained as in [[runs]].
    */
  def resultBytes(spark: SparkSession)(body: => Unit): Long = {
    val sc = spark.sparkContext
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    GraftSql.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftSql.drainListenerBus(sc)
      bytes.get
    } finally sc.removeSparkListener(listener)
  }

  /** The executed plans of the queries `body` runs on `spark`, in order;
    * adaptive plans are their final plans once run.
    */
  def executedPlans(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus delivers asynchronously and in order: once a marker
      // query's plan has arrived, every plan of `body` has too
      val token = s"executed-plans-marker-${System.nanoTime()}"
      spark.range(1).select(org.apache.spark.sql.functions.lit(token)).collect()
      def seen = plans.asScala.exists(_.toString.contains(token))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
      plans.asScala.toSeq.takeWhile(!_.toString.contains(token))
    } finally spark.listenerManager.unregister(listener)
  }
}
