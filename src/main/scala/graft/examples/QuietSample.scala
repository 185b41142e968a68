package graft.examples

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.{Harness, SparkEntry}
import graft.Harness.{num, nums, obj}

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
    // the bench's own session and per-PID root (r19 protocol, see
    // Tables.scratchRoot) — re-pins must measure the bench's configuration
    val session = Harness.session("quiet")
    val spark = session.spark
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
      val row = obj("t" -> nums(ts))
      // plan counts ride along so a drift adjudication can pin "same plan,
      // different wall" vs "plan changed" without a second tool — for BATCH
      // gates only: building a q_stream_* gate's DataFrame executes the
      // whole streaming query eagerly (silently doubling the twin's wall)
      // and the captured plan is just the post-hoc orderBy over the memory
      // sink, cost without signal (r15 ADVICE)
      if (isStream) {
        streamStats.settle()
        row.setAll[ObjectNode](Harness.streamRow(streamStats))
      } else {
        val (sh, bc) = Harness.planCounts(SparkEntry.queries(name)(spark, sfDir))
        row.setAll[ObjectNode](obj("shuffles" -> sh, "broadcasts" -> bc))
      }
      name -> row
    }
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    streamStats.detach()
    println(Harness.write(obj("samples" -> obj(rows: _*),
      "load_avg_1m" -> obj("start" -> num(load0, 2), "end" -> num(load1, 2)), "sf" -> sfDir)))
    session.deleteRoot()
    spark.stop()
  }
}
