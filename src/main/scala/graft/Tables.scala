package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  * One parquet file per table under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst gets full pushdown/pruning.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** events.parquet's `ts` encoding has drifted across generator versions:
    * TIMESTAMP(NANOS) (readable only as long under the legacy conf, needing a
    * nanos→micros truncation) and TIMESTAMP_NTZ micros (a first-class Spark
    * type). Probe the type the scan actually yields and adapt — the engine's
    * contract is a session-zone `TimestampType` column either way.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    adaptTs(apply(spark, sfDir, "events"))
  }

  /** Normalize an events frame's `ts` to `TimestampType`, whatever the
    * on-file encoding. Works on batch and streaming frames alike. The
    * session timezone is pinned to UTC by every entry point, so the NTZ
    * cast is wall-clock-preserving and matches DuckDB's reading of the
    * same file. Unknown encodings fail loudly — silent 1970-compressed
    * timestamps (the round-10 regression) must never recur.
    */
  private[graft] def adaptTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as long: truncate like DuckDB
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other - extend Tables.adaptTs for this encoding")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")

  /** [[documents]] with INGEST PARALLELIZED: the driver-generated parquet
    * has a single row group, so a plain scan is one task and every
    * scan-level expression chain downstream runs on one core — for the
    * md5-heavy text operators (winnowing, hashed-feature classification)
    * that serializes the whole map stage. One narrow hash repartition of
    * the raw docs (~hundreds of KB here) buys full-width map stages;
    * deterministic (hash of doc_id, not round-robin) so results and laws
    * are unaffected. At production scale the scan already yields thousands
    * of splits and this shuffle would be pure waste — use the plain reader
    * there; this is the documented small-input lever, applied only in the
    * expensive text queries' glue.
    */
  def documentsParallel(spark: SparkSession, sfDir: String): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    documents(spark, sfDir)
      .repartition(p, org.apache.spark.sql.functions.col("doc_id"))
  }
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")

  /** Root under which every gate scratch artifact (persisted indexes,
    * snapshot tables, stream staging/checkpoints) is created. Default
    * `/tmp` — but overridable per-process via the `graft.scratch.root`
    * system property or `SPARK_GRAFT_SCRATCH`, and the bench sets it to
    * its per-PID private dir (r18 verdict ask #2): the fixed shared paths
    * meant a SECOND graft JVM on the same box (stale run, concurrent
    * verify) could delete-before-build an index ANOTHER process was
    * mid-read on — task retries over vanished files is exactly the
    * 91–128 s q_ann_pq_filtered driver-box shape vs 3.2 s quiet. Per-PID
    * roots make cross-process collision impossible by construction.
    */
  def scratchRoot: String = {
    val root = sys.props.get("graft.scratch.root")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))
      .getOrElse("/tmp")
    new java.io.File(root).mkdirs()
    root
  }

  /** Stable scratch directory for a gate's snapshot/index artifacts:
    * `<scratchRoot>/graft_<name>_<sfDir-tag>`, DELETED RECURSIVELY before returning
    * so every build starts fresh. Replaces the old UUID-per-invocation
    * naming, which leaked one table-sized directory per run (the bench
    * harness re-runs each gate 4×). Dir-derived tag keeps different SFs
    * from colliding in one process; delete-before-build keeps re-runs
    * deterministic (a versioned snapshot must not MERGE into a stale
    * prior run's table).
    */
  def scratch(name: String, sfDir: String): String = {
    val path = s"$scratchRoot/graft_${name}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
    deleteTree(path)
    path
  }

  /** Delete the local file or directory tree at `path`, if any; never
    * throws. A symbolic link inside the tree is deleted, not followed.
    */
  private[graft] def deleteTree(path: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)); ()
  }
}
