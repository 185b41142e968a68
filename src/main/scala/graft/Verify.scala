package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** a name → text map as one JSON object; Jackson escapes every quote,
    * backslash and control character, so a tab or CR in an oracle's SQL
    * cannot make the driver's json.load fail
    */
  private[graft] def json(m: scala.collection.Map[String, String]): String =
    Harness.write(Harness.obj(m.toSeq: _*))

  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Optional extra args are a builder-
    // side query-name filter for fast single-query iteration.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // per-PID gate scratch (indexes, snapshot tables, stream staging):
    // a concurrent graft JVM must not be able to delete-before-build an
    // artifact this run is mid-read on (see Tables.scratchRoot)
    val scratch = s"/tmp/graft_verify_${ProcessHandle.current().pid()}"
    if (!sys.props.contains("graft.scratch.root") &&
        sys.env.get("SPARK_GRAFT_SCRATCH").isEmpty)
      System.setProperty("graft.scratch.root", scratch)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // failures are RECORDED, not just logged: a query that throws leaves no
    // parquet dir and would silently vanish from the driver's correctness
    // compare (round 10 lost nine queries that way) — _errors.json names
    // every failed query in the round artifact where a human will look
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // a STALE errors file from an earlier failing run must not outlive the
    // run that fixed it (nor may its absence hide this run's failures)
    Files.deleteIfExists(Paths.get(s"$outDir/_errors.json"))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(SparkEntry.oracleSql))
    if (errors.nonEmpty) Files.writeString(Paths.get(s"$outDir/_errors.json"), json(errors))
    // the per-PID scratch tree dies with the run (repeated rounds must not
    // accumulate table-sized directories on the shared box)
    if (sys.props.get("graft.scratch.root").contains(scratch))
      Tables.deleteTree(scratch)
    spark.stop()
  }
}
