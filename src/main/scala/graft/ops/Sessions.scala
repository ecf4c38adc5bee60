package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization: split each key's event stream into sessions at
  * inactivity gaps > `gapSec`. Batch counterpart of streaming session
  * windows — one shuffle on the key, two window passes (lag + running
  * sum), no state beyond the window frame.
  */
object Sessions {

  /** Adds `session_id` (0-based per key, in time order): a new session
    * starts where the gap from the previous event exceeds `gapSec`.
    * `tiebreakCols` disambiguate equal timestamps (determinism). */
  def sessionize(df: DataFrame, tsCol: String, keyCols: Seq[String],
                 gapSec: Long,
                 tiebreakCols: Seq[String] = Nil,
                 sessionCol: String = "session_id"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((tsCol +: tiebreakCols).map(col): _*)
    val isBreak = when(
      unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(w)
        > gapSec * 1000000L, 1L).otherwise(0L)
    df.withColumn(sessionCol,
      sum(isBreak).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session rollup: start/end, event count, exact µs duration. */
  def sessionStats(df: DataFrame, tsCol: String, keyCols: Seq[String],
                   gapSec: Long,
                   tiebreakCols: Seq[String] = Nil): DataFrame =
    sessionize(df, tsCol, keyCols, gapSec, tiebreakCols)
      .groupBy((keyCols :+ "session_id").map(col): _*)
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        (unix_micros(max(col(tsCol))) - unix_micros(min(col(tsCol))))
          .as("duration_us"))
}
