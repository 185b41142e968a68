package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded input generator of `hep_scan`. Every random draw is a hash
  * of (seed, row id, draw index), so the table depends only on the seed and
  * its size, never on partitioning or task order: the same seed gives the
  * same files.
  */
object Inputs {
  private val Two52 = 4503599627370496L

  /** uniform draw in (0, 1) */
  private def u(seed: Long, keys: Column*): Column =
    (pmod(xxhash64(lit(seed) +: keys: _*), lit(Two52)) + 0.5) / Two52.toDouble

  /** parquet directory written in parallel (the scan splits by file) */
  def writeDir(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("parquet.block.size", 1 << 20).parquet(path)

  /** HEP events: scalar columns plus `tracks_pt: array<double>` with a
    * binomial(12, 0.5) multiplicity (Poisson-like, mean 6) and exponential
    * pt (mean 5 GeV). pt is quantized to 1/256 GeV, like a detector's ADC
    * step; sums and sums of squares of such values are exact in double, so
    * the fused and the reference aggregates must agree bit for bit.
    */
  def hepEvents(spark: SparkSession, path: String, n: Long, seed: Long, parts: Int): Unit = {
    val id = col("id")
    // one 52-bit draw per candidate track: its low 16 bits decide whether
    // the track exists, the upper 36 bits give its pt
    val tracks = filter(array((0 until 12).map { j =>
      val h = pmod(xxhash64(lit(seed), id, lit(j)), lit(Two52))
      val pt = -log((floor(h / 65536) + 0.5) / 68719476736.0) * 5.0
      when(pmod(h, lit(65536L)) < 32768, floor(pt * 256.0) / 256.0) // keep half
    }: _*), x => x.isNotNull)
    writeDir(spark.range(0, n, 1, parts).select(
      id.as("event"),
      (id / 100000).cast("int").as("run"),
      (floor(-log(u(seed, id, lit(-1))) * 20.0 * 256.0) / 256.0).as("met"),
      tracks.as("tracks_pt")), path)
  }
}
