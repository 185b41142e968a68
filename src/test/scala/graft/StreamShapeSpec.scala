package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** Pins every stream twin's STATE SHAPE in `sbt test` (r18 verdict ask #5
  * — PlanGuardSpec excludes the 54 stream gates because constructing one
  * executes the stream; this spec embraces the execution and reads the
  * shape from the engine's own StreamingQueryProgress, the stream analog
  * of the batch plan-scan floor):
  *
  *  - stateful operator count per twin (golden table below, recorded by
  *    examples/StreamShapeProbe) — a twin silently gaining an unplanned
  *    stateful operator (e.g. a dropDuplicates slipping into a scan twin)
  *    fails here;
  *  - state-store partition count == Streams.STREAM_SHUFFLE_PARTITIONS for
  *    every state operator. The session default is set to a SENTINEL (7)
  *    around each gate call, so a twin that silently loses the
  *    withStreamShuffle dispatch (SparkEntry wraps all non-exempt
  *    q_stream_* gates) would surface 7-partition state stores and fail.
  *
  * The two stream_shuffle_exempt twins (q_stream_transitions,
  * q_stream_upsert) hold ZERO state operators — which is exactly why they
  * are exempt (their per-trigger cost is shuffle work, not state-store
  * machinery); the golden table pins that fact too.
  *
  * ops=0 twins are the foreachBatch / stateless-scan twins: their state
  * lives in batch-side artifacts (MERGE tables, stored indexes, capped
  * owner tables), not engine state stores — pinned at 0 so an accidental
  * migration INTO engine state is as loud as one out of it.
  *
  * The shape is read through the twins' one run protocol, which the last
  * two tests pin: a memory-sink drain leaves no temp view behind, and one
  * settle delivers every trigger of a stopped stream.
  */
class StreamShapeSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkTest.session
  private val dir = "/root/testdata/sf0.001"
  private val SENTINEL = "7"

  /** twin -> stateful operator count (examples/StreamShapeProbe, sf0.001;
    * shape is SF-invariant — operators come from the plan, not the data)
    */
  private val goldenOps: Map[String, Int] = Map(
    "q_stream_admit" -> 0, "q_stream_ann" -> 0, "q_stream_anomaly" -> 1,
    "q_stream_asof" -> 0, "q_stream_backoff" -> 0, "q_stream_bm25" -> 0,
    "q_stream_bpe_pairs" -> 1, "q_stream_ccnet" -> 0, "q_stream_classify" -> 0,
    "q_stream_classify_trained" -> 0, "q_stream_cms" -> 1,
    "q_stream_containment" -> 0, "q_stream_cov" -> 1,
    "q_stream_decontaminate" -> 0, "q_stream_dedup" -> 1, "q_stream_dsir" -> 0,
    "q_stream_expectations" -> 1, "q_stream_f16" -> 0, "q_stream_features" -> 0,
    "q_stream_features_window" -> 0, "q_stream_funnel" -> 1,
    "q_stream_gopher" -> 0, "q_stream_histo" -> 1,
    "q_stream_histo_weighted" -> 1, "q_stream_hll" -> 1,
    "q_stream_incremental" -> 1, "q_stream_join" -> 1,
    "q_stream_multimodal" -> 0, "q_stream_mv" -> 0, "q_stream_neardup" -> 1,
    "q_stream_neardup_band" -> 1, "q_stream_paragraph" -> 0,
    "q_stream_pca" -> 0, "q_stream_phrase" -> 0, "q_stream_ppjoin" -> 0,
    "q_stream_pq" -> 0, "q_stream_psi" -> 1, "q_stream_quantile" -> 1,
    "q_stream_quarantine" -> 0, "q_stream_readmit" -> 0, "q_stream_scd2" -> 0,
    "q_stream_scrub" -> 0, "q_stream_seasonality" -> 1,
    "q_stream_semantic" -> 0, "q_stream_sessionize" -> 1,
    "q_stream_sink" -> 1, "q_stream_sliding" -> 1, "q_stream_split" -> 0,
    "q_stream_stateful" -> 1, "q_stream_temperature" -> 0,
    "q_stream_transitions" -> 0, "q_stream_tumbling" -> 1,
    "q_stream_upsert" -> 0, "q_stream_winsorize" -> 1)

  test("every stream twin keeps its golden state shape (ops + 4-partition stores)") {
    val twins = SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    // a twin added without a golden row must fail loudly, not skip silently
    val unpinned = twins.filterNot(goldenOps.contains)
    assert(unpinned.isEmpty,
      s"stream twins without a golden shape row (record with " +
        s"examples/StreamShapeProbe and extend goldenOps): $unpinned")
    val stats = Streams.Stats.attach(spark)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    try {
      twins.foreach { name =>
        stats.reset()
        spark.conf.set("spark.sql.shuffle.partitions", SENTINEL)
        try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          stats.settle()
          val (ops, parts) = stats.shape
          val want = goldenOps(name)
          if (ops != want)
            failures += s"$name: stateful operators $ops (golden $want)"
          else if (ops > 0 &&
              parts != Set(graft.streaming.Streams.STREAM_SHUFFLE_PARTITIONS.toLong))
            failures += s"$name: state-store partitions ${parts.toSeq.sorted
              .mkString("/")} (want ${graft.streaming.Streams.STREAM_SHUFFLE_PARTITIONS} " +
              "— did the twin lose the withStreamShuffle dispatch?)"
        } catch {
          case e: Throwable =>
            failures += s"$name: threw ${e.getClass.getSimpleName}: ${
              String.valueOf(e.getMessage).take(120)}"
        } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      stats.detach()
    }
    assert(failures.isEmpty,
      s"stream state-shape drift:\n  " + failures.mkString("\n  "))
  }

  test("a drained memory-sink twin leaves no temp view and its frame reads every row") {
    def tempViews = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    val got = Streams.streamingControl(spark, dir)
    assert(tempViews == before, s"drain left temp views ${tempViews -- before}")
    assert(got.count() == Tables.events(spark, dir).count())
  }

  test("one settle delivers every trigger of a stopped multi-file stream") {
    val root = SparkTest.tempDir("graft_settle_test").toString
    val src = s"$root/src"
    try {
      spark.range(40).repartition(4).write.parquet(src)
      val stats = Streams.Stats.attach(spark)
      try {
        val q = Streams.drain(spark.readStream.schema(spark.read.parquet(src).schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream.format("noop"))
        stats.settle()
        assert(q.recentProgress.length == 4)
        assert(stats.batches == q.recentProgress.length)
        assert(stats.batchWallsMs.length == 4 && stats.batchWallsMs.forall(_ >= 0))
      } finally stats.detach()
    } finally Tables.deleteTree(root)
  }
}
