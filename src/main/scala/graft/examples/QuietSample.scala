package graft.examples

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Quiet-box re-measure of individual gate queries: warmup + N samples each,
  * noop-sinked through the exact SparkEntry plan the bench times, printed as
  * one JSON line. Exists because shared-box bench rows occasionally record
  * contended outliers (r12: q_cluster_knn 5.25 s quiet vs 9.84 s contended)
  * and re-running the whole suite to adjudicate one row wastes the quiet
  * window.
  *
  * sbt "runMain graft.examples.QuietSample <sfDir> <samples> <name> [name...]"
  */
object QuietSample {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QuietSample <sfDir> <samples> <name> [name...]")
    val sfDir = args(0)
    val n = args(1).toInt
    val names = args.drop(2).toSeq
    // per-PID scratch + warehouse, matching the r19 bench protocol (see
    // Tables.scratchRoot) — re-pins must measure the same isolated paths
    val privRoot = s"/tmp/graft_quiet_${ProcessHandle.current().pid()}"
    System.setProperty("graft.scratch.root", s"$privRoot/scratch")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-quiet-sample")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.warehouse.dir", s"$privRoot/wh")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val load0 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // stream twins get the same batches/state_rows/batch_ms telemetry the
    // bench folds into its last sample — the drift-adjudication protocol
    // needs per-trigger walls to separate "box load" from "a refit hiding
    // in one trigger" without a second tool
    val streamStats = graft.streaming.Streams.Stats.attach(spark)
    val rows = names.map { name =>
      def run(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warmup
      val isStream = name.startsWith("q_stream_")
      val ts = (0 until n).map { i =>
        if (isStream && i == n - 1) streamStats.reset()
        run()
      }
      val streamPart =
        if (!isStream) ""
        else {
          streamStats.settle()
          val bms = streamStats.batchWallsMs.take(64).mkString("[", ",", "]")
          s""","batches":${streamStats.batches},""" +
            s""""state_rows":${streamStats.stateRows},"batch_ms":$bms"""
        }
      // plan counts ride along so a drift adjudication can pin "same plan,
      // different wall" vs "plan changed" without a second tool — for BATCH
      // gates only: building a q_stream_* gate's DataFrame executes the
      // whole streaming query eagerly (silently doubling the twin's wall)
      // and the captured plan is just the post-hoc orderBy over the memory
      // sink, cost without signal (r15 ADVICE)
      val planPart =
        if (name.startsWith("q_stream_")) ""
        else {
          val p = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.executedPlan.toString
          val bc = "BroadcastExchange".r.findAllIn(p).size
          val reused = "ReusedExchange".r.findAllIn(p).size
          val sh = "Exchange".r.findAllIn(p).size - bc - reused
          s""","shuffles":$sh,"broadcasts":$bc"""
        }
      s""""$name":{"t":${ts.map(t => f"$t%.3f").mkString("[", ",", "]")}$planPart$streamPart}"""
    }
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    streamStats.detach()
    println(f"""{"samples":${rows.mkString("{", ",", "}")},""" +
      f""""load_avg_1m":{"start":$load0%.2f,"end":$load1%.2f},"sf":"$sfDir"}""")
    graft.Tables.deleteTree(privRoot)
    spark.stop()
  }
}
