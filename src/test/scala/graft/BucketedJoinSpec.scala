package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing demo: co-located fact-fact join with NO shuffle exchange — the
  * 100 TB pattern for repeated joins on the same key (bucket both tables on
  * the join key at write time; Spark then sort-merge-joins bucket-to-bucket).
  */
class BucketedJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  test("bucketed tables join without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val orders = (0L until 1000L).map(i => (i, s"o$i")).toDF("key", "o_payload")
      val items = (0L until 5000L).map(i => (i % 1000, s"i$i")).toDF("key", "i_payload")
      orders.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
        .saveAsTable("graft_bucketed_orders")
      items.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
        .saveAsTable("graft_bucketed_items")

      val joined = spark.table("graft_bucketed_orders")
        .join(spark.table("graft_bucketed_items"), Seq("key"))
      assert(joined.count() == 5000L)

      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle, got:\n$plan")

      // same join on plain (unbucketed) frames DOES shuffle — the contrast
      val plainPlan = orders.join(items, Seq("key"))
        .queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_items")
    }
  }

  test("SnapshotBucketed with explicit path writes an external table whose fact agg needs no exchange") {
    val dir = "/root/testdata/sf0.001"
    val path = s"${SparkTest.scratchRoot}/graft_bucketed_external_spec"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    try {
      val t = graft.tdf.TDF(
        Tables.lineitem(spark, dir).select($"l_orderkey", $"l_quantity"))
        .SnapshotBucketed("graft_bucketed_external", "l_orderkey", 8, Some(path))
      // the data landed at the caller's path, not in the warehouse
      assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("part-")))
      // a per-key aggregate rides the buckets' hash partitioning: no exchange
      // before the aggregate (the q_join_bucketed gate's core claim)
      val agg = t.toDF.groupBy($"l_orderkey").agg(sum($"l_quantity").as("q"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed pre-aggregate must not shuffle:\n$plan")
      assert(agg.count() ==
        Tables.lineitem(spark, dir).select($"l_orderkey").distinct().count())
    } finally spark.sql("DROP TABLE IF EXISTS graft_bucketed_external")
  }
}
