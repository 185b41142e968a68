package graft.tdf

import org.apache.spark.sql.{DataFrame, Row}

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

  /** the columns the pending batch of `d`'s context would define, in order */
  def pendingDefines(d: TDF): Seq[String] = d.ctx.pendingDefines

  /** books `d.Foreach(cols)(f)` without running the batch, so that a later
    * trigger runs it in the same pass as the other pending actions
    */
  def bookForeach(d: TDF, cols: Seq[String])(f: Row => Unit): Result[Unit] =
    d.bookForeach(cols.map(_ -> None), (_, r) => f(r))
}
