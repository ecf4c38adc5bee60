package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cleaning operators: ordered keep-first key dedup (D2) and column
  * drops (P2). The reference's full-row dedup (D1) needs no operator
  * of its own: exact duplicates share a timestamp, so D2 collapses them
  * on Level-1, and `Udg.filterMasked` emits them once on Level-2.
  *
  * Reference semantics: cassandra_fs_pp/fs_pp.py:92-106 — after the bale
  * union the pipeline drops columns that are entirely NaN, drops exact
  * duplicate rows, then keeps the FIRST occurrence per timestamp
  * (`ds[~ds.index.duplicated()]`).
  *
  * Scale notes: on Level-1, the all-null column drop (P1) and D2 are one
  * ordered kernel pass (`Level1`): the rows move once into one sorted
  * partition, the kernel counts every column's non-null cells over all
  * ingested rows and emits the first row per timestamp, and the driver
  * drops the columns whose count is zero once that pass has run — O(cols)
  * driver state, no aggregate and no window. `dedupKeepFirst` is the
  * general D2 for keyed data: it shuffles on its keys once and uses a
  * window over the key only (hash partition by key, no global sort).
  * Keep-first requires an explicit arrival-order tiebreak — Spark row
  * order is otherwise undefined.
  */
object Cleaning {

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
