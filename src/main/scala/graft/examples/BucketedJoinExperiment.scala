package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Harness, Tables}
import graft.Harness.{num, nums, obj}

/** Layout experiment for the slowest benched query (`q_join_bcast`): does a
  * BUCKETED layout of the two big sides (lineitem by l_orderkey, orders by
  * o_orderkey, matching bucket counts) beat the pre-aggregate + broadcast
  * plan over plain parquet?
  *
  * The bucketed promise: the per-orderkey pre-aggregation needs no exchange
  * (the scan already delivers hash(l_orderkey) partitioning) and the
  * orders join runs bucket-to-bucket — the only remaining shuffle is the
  * tiny per-nation final aggregate. The cost: bucketed layout must be
  * PRE-PAID at write time (a full shuffle+write of the fact table), so it
  * only wins for tables joined on the same key many times.
  *
  * Run: `sbt "runMain graft.examples.BucketedJoinExperiment [sfDir]"`.
  * Prints the (shuffles, broadcasts) pair of both plans and median-of-3
  * timings as one JSON line.
  */
object BucketedJoinExperiment {

  /** one-time bucketed layout of the two big sides; returns the write cost
    * in seconds — the price a deployment pays to choose this layout
    */
  def setupTables(spark: SparkSession, sfDir: String): Double = {
    // the in-memory catalog starts empty each JVM, but a managed table's
    // warehouse directory survives /tmp — saveAsTable then fails with
    // LOCATION_ALREADY_EXISTS, so clear stale locations up front
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(s"$wh/$t")
      p.getFileSystem(conf).delete(p, true)
    }
    val t0 = System.nanoTime()
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .write.mode("overwrite")
      .bucketBy(32, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .write.mode("overwrite")
      .bucketBy(32, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    (System.nanoTime() - t0) / 1e9
  }

  /** the q_join_bcast shape over plain parquet (the benched baseline) */
  def plain(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val liAgg = Tables.lineitem(spark, sfDir)
      .withColumn("rev", (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("rev")).as("rev"), count(lit(1)).as("n"))
    liAgg.join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"), sum(col("n")).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** same logical query over the [[setupTables]] layout: the pre-aggregate
    * rides the buckets' hash partitioning and the orders join runs
    * bucket-to-bucket — the fact table is never shuffled
    */
  def bucketed(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    val liAgg = spark.table("li_bucketed")
      .withColumn("rev", (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("rev")).as("rev"), count(lit(1)).as("n"))
    liAgg.join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"), sum(col("n")).as("n_items"))
      .orderBy(col("n_name"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    // the bench's session: the bucketed tables land in its per-PID warehouse
    val session = Harness.session("bucket_experiment")
    val spark = session.spark

    val layoutSec = setupTables(spark, sfDir)
    def viaPlain() = plain(spark, sfDir)
    def viaBucketed() = bucketed(spark, sfDir)

    def median3(run: () => Unit): Seq[Double] = {
      run() // warm-up
      (0 until 3).map { _ =>
        val t = System.nanoTime(); run(); (System.nanoTime() - t) / 1e9
      }
    }
    def noop(df: => org.apache.spark.sql.DataFrame): () => Unit =
      () => df.write.format("noop").mode("overwrite").save()

    // same answer first (the layouts must agree before the race means anything)
    val a = viaPlain().collect().map(_.toString).toSeq
    val b = viaBucketed().collect().map(_.toString).toSeq
    require(a == b, "bucketed plan must return identical rows")

    val plainTs = median3(noop(viaPlain()))
    val bucketTs = median3(noop(viaBucketed()))
    // the (shuffles, broadcasts) pair the bench's layout section records
    val (plainSh, plainBc) = Harness.planCounts(viaPlain())
    val (bucketSh, bucketBc) = Harness.planCounts(viaBucketed())
    def med(ts: Seq[Double]) = num(ts.sorted.apply(1))
    println(Harness.write(obj("experiment" -> "bucketed_join", "sf" -> sfDir,
      "plain_shuffles" -> plainSh, "plain_broadcasts" -> plainBc,
      "bucketed_shuffles" -> bucketSh, "bucketed_broadcasts" -> bucketBc,
      "layout_write_sec" -> num(layoutSec),
      "plain_sec" -> med(plainTs), "plain_samples" -> nums(plainTs),
      "bucketed_sec" -> med(bucketTs), "bucketed_samples" -> nums(bucketTs))))
    session.deleteRoot()
    spark.stop()
  }
}
