package graft.examples

import org.apache.spark.sql.SparkSession

/** Print each stream twin's state shape — stateful operator count and the
  * distinct state-store shuffle-partition counts — from the twin's own
  * StreamingQueryProgress, with the SESSION batch default set to a sentinel
  * (7) so the [[graft.streaming.Streams.withStreamShuffle]] dispatch is
  * observable per twin. Used to record the golden table StreamShapeSpec
  * pins (r18 verdict ask #5).
  *
  * sbt "runMain graft.examples.StreamShapeProbe [sfDir]"
  */
object StreamShapeProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val privRoot = s"/tmp/graft_sshape_${ProcessHandle.current().pid()}"
    System.setProperty("graft.scratch.root", s"$privRoot/scratch")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$privRoot/wh")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stats = graft.streaming.Streams.Stats.attach(spark)
    val twins = graft.SparkEntry.queries.keys.filter(_.startsWith("q_stream_"))
      .toSeq.sorted
    twins.foreach { name =>
      stats.reset()
      // sentinel batch default: a twin that silently skips the 4-partition
      // dispatch shows 7-partition state stores here
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      try {
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        stats.settle()
        val (ops, parts) = stats.shape
        println(s"SHAPE $name ops=$ops parts=${parts.toSeq.sorted.mkString("/")}")
      } catch {
        case e: Throwable => println(s"SHAPE $name ERR ${e.getClass.getSimpleName}")
      } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    graft.Tables.deleteTree(privRoot)
    spark.stop()
  }
}
