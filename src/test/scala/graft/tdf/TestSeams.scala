package graft.tdf

import org.apache.spark.sql.DataFrame

/** Test access to the booking context's knobs that are not user options. */
object TestSeams {
  /** distinct values an auto-ranged histogram counts per slot by default */
  val valueCap: Int = AutoHistoOp.Cap
  /** distinct values all counts of one pass hold together */
  val valueBudget: Int = AutoHistoOp.Budget

  /** a TDF over `df` whose auto-ranged histograms count at most `cap`
    * distinct values per slot before they need a second pass
    */
  def withValueCap(df: DataFrame, cap: Int, compat: Boolean = false): TDF =
    TDF.of(new BookingContext(df, compat, cap))
}
