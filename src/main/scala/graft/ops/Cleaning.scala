package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cleaning operators: all-null column drop (P1) and ordered keep-first
  * key dedup (D2). The reference's full-row dedup (D1) needs no operator
  * of its own: exact duplicates share a timestamp, so D2 collapses them
  * on Level-1, and `Udg.filterMasked` emits them once on Level-2.
  *
  * Reference semantics: cassandra_fs_pp/fs_pp.py:92-106 — after the bale
  * union the pipeline drops columns that are entirely NaN, drops exact
  * duplicate rows, then keeps the FIRST occurrence per timestamp
  * (`ds[~ds.index.duplicated()]`).
  *
  * Scale notes: P1 is one aggregate pass (map-side combinable counts) and a
  * driver decision — O(cols) driver state, no data movement beyond the agg.
  * D2 shuffles on its keys once and uses a window over the key only
  * (hash partition by key, no global sort). Keep-first requires an explicit
  * arrival-order tiebreak — Spark row order is otherwise undefined.
  */
object Cleaning {

  /** P1 — drop columns whose values are all null.
    * One aggregate job computes non-null counts for every column (a single
    * map-reduce pass, partial aggregation on the map side), then the plan is
    * rebuilt with only the surviving columns so downstream scans prune.
    */
  def dropAllNullColumns(df: DataFrame): DataFrame = {
    val counts = df.select(df.columns.map(c => count(col(c)).as(c)).toSeq: _*)
      .head()
    val keep = df.columns.zipWithIndex.collect {
      case (c, i) if counts.getLong(i) > 0L => c
    }
    if (keep.length == df.columns.length) df
    else df.select(keep.map(col).toSeq: _*)
  }

  /** D2 — keep the FIRST row per key in `orderCols` order
    * (fs_pp.py:102-104, `~index.duplicated()`). A bare
    * `dropDuplicates(keys)` is nondeterministic in Spark; the reference's
    * "first" is ingest order, so callers must thread an explicit order
    * column (file sequence, RECORD counter, ...) through ingest.
    * Single shuffle on `keys`; the sort is within each key group only.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String],
                     orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** P2 — drop configured columns, ignoring ones not present
    * (fs_pp.py:278-279 iterates and drops what exists). */
  def dropColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    df.drop(cols: _*)
}
