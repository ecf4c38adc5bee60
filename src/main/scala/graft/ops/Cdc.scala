package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture merge — the standing-corpus MAINTENANCE step
  * the incremental-ingest family (t49) leaves open: those only ADD
  * novel documents, but a live corpus also takes
  * retractions (takedowns, robots.txt revocations, licensing pulls)
  * and in-place revisions (re-crawled pages). This is the MERGE
  * semantics of a Delta-style upsert expressed as plain joins, so it
  * runs on bare parquet with no table-format dependency. */
object Cdc {

  /** Apply a change feed to a standing table, last-op-per-key wins:
    * rows of `delta` carry the base's data columns plus `opCol`
    * ('insert' | 'update' | 'delete') and `seqCol` (change order —
    * e.g. a CDC log offset or capture timestamp). Multiple ops on one
    * key collapse to the highest (seq, op, payload-hash) triple —
    * the op tiebreak orders equal-seq cross-op feeds, and the payload
    * hash makes even a fully-tied pair (same key, seq AND op with
    * different payloads: two revisions inside one timestamp
    * granularity) resolve to the SAME winner on every run and replay,
    * instead of whichever row a partition ordered first. Then every
    * touched key
    * leaves the base, and non-delete survivors re-enter with their
    * new row — insert and update are deliberately symmetric, as in
    * SCD-1 merges, so a replayed insert is just an idempotent update.
    *
    * Scale shape: one delta-sized window (partitioned by key), one
    * key-keyed anti-join, one union — the base never shuffles more
    * than its join key, and with both sides bucketed by key the
    * anti-join is co-located. The delta is usually days-sized against
    * a corpus-sized base: broadcast it when small enough (AQE picks
    * this up from stats). */
  def applyChanges(base: DataFrame, delta: DataFrame, idCol: String,
                   opCol: String, seqCol: String): DataFrame = {
    val dataCols = base.columns
    require(!dataCols.contains(opCol) && !dataCols.contains(seqCol),
      s"base already has a '$opCol'/'$seqCol' column — rename the " +
        "feed's op/seq columns")
    // validate the op domain BEFORE it decides anything: a NULL or
    // unknown op (typo, case drift — 'DELETE') would win its key's
    // window, anti-join the key out of the base, and then fail the
    // `=!= "delete"` upsert filter (null comparison / mismatch) —
    // silently DELETING the document on malformed input
    val checkedOp = when(col(opCol).isin("insert", "update", "delete"),
      col(opCol)).otherwise(raise_error(concat(
        lit(s"applyChanges: unknown $opCol value '"),
        coalesce(col(opCol), lit("NULL")),
        lit("' — expected insert|update|delete"))))
    // a NULL key is the silent-accretion trap, not just bad data: a
    // null-keyed upsert re-enters the table but can never anti-join
    // back OUT (null never equi-matches), so every replay of the same
    // feed would add the row AGAIN. Fail loudly.
    val checkedId = when(col(idCol).isNotNull, col(idCol))
      .otherwise(raise_error(lit(
        s"applyChanges: NULL $idCol in the change feed — a null key " +
          "cannot be retracted or re-matched and would accrete a " +
          "duplicate row on every replay")))
    val lastOp = delta
      .withColumn(idCol, checkedId)
      .withColumn(opCol, checkedOp)
      .withColumn("__cdc_rk", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col(seqCol).desc, col(opCol).desc,
            xxhash64(dataCols.map(col): _*))))
      .where(col("__cdc_rk") === 1)
    val survivors =
      base.join(lastOp.select(col(idCol)), Seq(idCol), "left_anti")
    val upserts = lastOp.where(col(opCol) =!= "delete")
      .select(dataCols.map(col): _*)
    survivors.unionByName(upserts)
  }
}
