package graft.functions

/** A filled 1-D histogram: the result type of the reference's `Histo` action
  * (reference: TDataFrame.hxx:897-934 books a TH1F fill; per-slot partials are
  * merged at end of loop, TDataFrame.hxx:483-517). Bin i (0-based) covers
  * [lo + i*w, lo + (i+1)*w) with w = (hi-lo)/nbins; values below lo go to
  * `underflow`, values >= hi to `overflow` — same edge convention as TH1F.
  */
final case class Histogram(
    nbins: Int,
    lo: Double,
    hi: Double,
    counts: Array[Long],
    underflow: Long,
    overflow: Long,
    entries: Long,
    sumx: Double,
    sumx2: Double) {
  def binWidth: Double = (hi - lo) / nbins
  def mean: Double = if (entries == 0) 0.0 else sumx / entries
  def stddev: Double = {
    if (entries == 0) 0.0
    else math.sqrt(math.max(0.0, sumx2 / entries - mean * mean))
  }
  /** (binIndex, lowEdge, count) rows for all non-empty info, driver-side. */
  def bins: Seq[(Int, Double, Long)] =
    counts.toIndexedSeq.zipWithIndex.map { case (c, i) => (i, lo + i * binWidth, c) }

  /** Pearson χ² comparison of two same-axis histograms (the HEP shape-test
    * workhorse): χ² = Σ (a_i - b_i)² / (a_i + b_i) over bins where either
    * count is non-zero. Returns (chi2, ndf).
    */
  def chi2Test(other: Histogram): (Double, Int) = {
    require(nbins == other.nbins && lo == other.lo && hi == other.hi,
      "chi2Test: histograms must share the axis")
    var chi2 = 0.0
    var ndf = 0
    var i = 0
    while (i < nbins) {
      val a = counts(i).toDouble
      val b = other.counts(i).toDouble
      if (a + b > 0) { chi2 += (a - b) * (a - b) / (a + b); ndf += 1 }
      i += 1
    }
    (chi2, math.max(ndf - 1, 0))
  }
}

object Histogram {
  /** Empty model histogram — the analog of constructing a `TH1F` to pass to
    * the reference's model overload `Histo(branch, model)`
    * (TDataFrame.hxx:897-904): only the axis is read from it.
    */
  def model(nbins: Int, lo: Double, hi: Double): Histogram =
    Histogram(nbins, lo, hi, Array.fill(nbins)(0L), 0L, 0L, 0L, 0.0, 0.0)
}

/** Mutable per-partition buffer — the Spark analog of the reference's per-slot
  * TH1F clone (TDataFrame.hxx:483-517): update = Fill, merge = Add.
  */
final case class HistBuffer(
    counts: Array[Long],
    var underflow: Long,
    var overflow: Long,
    var entries: Long,
    var sumx: Double,
    var sumx2: Double) {

  /** TH1 `Fill(x, wt)` on the axis `[lo, hi)` cut into `counts.length` bins
    * of width `w`: [[bin]], then [[moments]].
    */
  def fill(x: Double, wt: Long, lo: Double, hi: Double, w: Double): Unit = {
    bin(x, wt, lo, hi, w)
    moments(x, wt)
  }

  /** The one place the bin-edge convention lives: bin i covers
    * [lo + i*w, lo + (i+1)*w) (identical formula to the SQL oracle:
    * floor((x-lo)/w)) and gets the weight; below lo underflows, >= hi
    * overflows.
    */
  def bin(x: Double, wt: Long, lo: Double, hi: Double, w: Double): Unit =
    if (x < lo) underflow += wt
    else if (x >= hi) overflow += wt
    else {
      val i = math.floor((x - lo) / w).toInt
      counts(math.min(i, counts.length - 1)) += wt
    }

  /** `entries`, `sumx` and `sumx2` accumulate the weight, whatever the axis */
  def moments(x: Double, wt: Long): Unit = {
    entries += wt
    sumx += x * wt
    sumx2 += x * x * wt
  }

  /** TH1 `Add`: merges another partial on the same axis into this one */
  def add(o: HistBuffer): Unit = {
    var i = 0
    while (i < counts.length) { counts(i) += o.counts(i); i += 1 }
    underflow += o.underflow; overflow += o.overflow
    entries += o.entries; sumx += o.sumx; sumx2 += o.sumx2
  }
}

object HistBuffer {
  def empty(nbins: Int): HistBuffer = HistBuffer(new Array[Long](nbins), 0L, 0L, 0L, 0.0, 0.0)
}
