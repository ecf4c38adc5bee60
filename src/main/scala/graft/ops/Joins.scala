package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators J1–J6: union-by-name, time alignment, broadcast lookup
  * with fallback, and as-of join (J5, the UDG reindex, is part of
  * `Udg.filterMasked`'s one pass).
  *
  * Reference semantics: fs_pp.py:92,149,216 (vertical concat across bales),
  * fs_process_l2.py:113 (horizontal concat on the time index),
  * fs_pp.py:584-594 (per-sensor calibration lookup with mean fallback),
  * fs_pp.py:621-625 (first UDG reading at/after a TDR install date).
  *
  * Scale notes: dim tables here are ≤ thousands of rows → `broadcast()`
  * keeps the big side shuffle-free. The as-of join avoids a per-row range
  * probe (quadratic) by union-tagging both sides and running one window
  * pass — a single shuffle on the key, O(n log n) in each key group.
  */
object Joins {

  /** J1 — vertical union across datasets whose column sets drift over the
    * years; missing columns become null. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty,
      "unionAll: no inputs — a site with zero configured level-0 " +
        "sources has nothing to union (check the metafile)")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** J2 — horizontal alignment of per-key series on the time axis:
    * full-outer n-way join on (time). Each input must be (time, value…). */
  def alignOnTime(dfs: Seq[DataFrame], tsCol: String): DataFrame = {
    require(dfs.nonEmpty, "alignOnTime: no inputs to align")
    dfs.reduce(_.join(_, Seq(tsCol), "full_outer"))
  }

  /** J4 — broadcast lookup with per-key coefficients and a global fallback
    * for keys missing from the dim table (reference: mean of all sensors'
    * calibration coefficients, fs_pp.py:589-594). `dim` must contain
    * `keyCol` plus the coefficient columns; fallbacks are computed in one
    * tiny aggregate over the dim table and coalesced in. */
  def lookupWithFallback(df: DataFrame, dim: DataFrame, keyCol: String,
                         coefCols: Seq[String]): DataFrame = {
    val fallbacks = dim.agg(
      coefCols.head -> "avg", coefCols.tail.map(_ -> "avg"): _*).head()
    // an EMPTY dim (or an all-null coefficient column) averages to a
    // null cell: getDouble would NPE at plan build. The reference's
    // mean-of-no-sensors is NaN (pandas mean of empty) — degrade the
    // same way instead of crashing.
    val fb = coefCols.indices.map(i =>
      if (fallbacks.isNullAt(i)) Double.NaN else fallbacks.getDouble(i))
    // a duplicate dim key would FAN OUT every matching reading row
    // through the left join (an appended re-calibration row silently
    // doubles row counts); the dim is broadcast-small, so the check
    // is one tiny job
    val dups = dim.groupBy(keyCol).count().where(col("count") > 1)
      .limit(1).collect()
    require(dups.isEmpty,
      s"lookupWithFallback: duplicate $keyCol '${dups.headOption
        .map(_.get(0)).getOrElse("")}' in the dim table — " +
        "deduplicate the coefficients (latest wins?) before joining")
    val joined = df.join(broadcast(dim), Seq(keyCol), "left")
    coefCols.zipWithIndex.foldLeft(joined) { case (d, (c, i)) =>
      d.withColumn(c, coalesce(col(c), lit(fb(i))))
    }
  }

  /** J6 — as-of join: for each left row, attach the most recent right row
    * with `right.ts <= left.ts` within the same key. Implemented as a
    * union-tag + window pass (no range probe, no cross product):
    * one shuffle on (key), one ordered window per key group.
    *
    * Columns: `leftDf` keeps all its columns; the right side contributes
    * `valueCols` (renamed as given). Right rows with equal ts sort BEFORE
    * left rows (<= semantics, matching pandas merge_asof / DuckDB ASOF).
    */
  def asOfJoin(leftDf: DataFrame, rightDf: DataFrame, keys: Seq[String],
               tsCol: String, valueCols: Seq[String]): DataFrame = {
    val leftCols = leftDf.columns
    val lTagged = leftDf.withColumn("__side", lit(1))
    // the right row travels as ONE STRUCT, filled atomically: filling
    // each value column independently could stitch a combination that
    // exists in no right row (col a from ts=2, col b from ts=1), and
    // a most-recent row's legitimate null field would lose to an
    // older row's stale non-null — both violating merge_asof's
    // "attach THE most recent row" semantics
    val rTagged = rightDf
      .select(keys.map(col) ++ Seq(col(tsCol), lit(0).as("__side"),
        struct(valueCols.map(col): _*).as("__vrow")): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // the trailing __vrow sort key makes ties among right rows with
    // equal (key, ts) DETERMINISTIC (largest struct wins) instead of
    // shuffle-order-dependent
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc,
        col("__vrow").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn("__vrow",
        last(col("__vrow"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(leftCols.map(col) ++
        valueCols.map(c => col("__vrow").getField(c).as(c)): _*)
  }

  /** Bucketed range join: `left.ts ∈ [right.ts, right.ts + windowSec)`
    * within the same key — WITHOUT the quadratic theta-join a naive
    * inequality predicate produces (Spark would pick
    * BroadcastNestedLoopJoin). Both sides are bucketed by
    * `floor(ts / windowSec)`; a right row can only match left rows in
    * its own or the next bucket, so the right side explodes ×2 and the
    * join becomes an EQUI-join on (key, bucket) followed by the exact
    * range filter. One hash shuffle, linear in matches — the 100 TB
    * interval-join shape.
    *
    * Returns left columns + `rightIdCol` of the matching right row
    * (inner semantics; aggregate + right-outer join back for "count per
    * right row incl. zero"). */
  def rangeJoinBucketed(leftDf: DataFrame, rightDf: DataFrame,
                        keys: Seq[String], tsCol: String,
                        rightIdCol: String, windowSec: Long): DataFrame = {
    val us = windowSec * 1000000L
    val lb = leftDf.withColumn("__bkt",
      floor(unix_micros(col(tsCol)) / us))
    val rb = rightDf
      .select((keys.map(col) :+ col(rightIdCol) :+
        unix_micros(col(tsCol)).as("__rts")): _*)
      .withColumn("__bkt",
        explode(array(floor(col("__rts") / us),
          floor(col("__rts") / us) + 1)))
    lb.join(rb, keys :+ "__bkt")
      .where(unix_micros(col(tsCol)) >= col("__rts") &&
        unix_micros(col(tsCol)) < col("__rts") + us)
      .drop("__bkt", "__rts")
  }

  /** C3 — piecewise step offsets: given change points (threshold ts,
    * cumulative offset), subtract the offset active at each row's time
    * (reference's UDG height-change normalisation applies offsets
    * cumulatively to all data >= each change date, fs_pp.py:452-511).
    * Pure chained CASE expression — codegen-friendly, no join needed for
    * the handful of change points a station accumulates. */
  def piecewiseOffset(ts: Column, changes: Seq[(java.sql.Timestamp, Double)]): Column = {
    val sorted = changes.sortBy(_._1.getTime)
    // cumulative: offset_i applies to [d_i, d_{i+1})
    val cum = sorted.scanLeft(0.0) { case (acc, (_, o)) => acc + o }.tail
    // fold ascending so the LATEST change point is the outermost WHEN —
    // each later branch must shadow all earlier ones for ts past it
    sorted.zip(cum).foldLeft(lit(0.0)) {
      case (elseExpr, ((d, _), cumOff)) =>
        when(ts >= lit(d), lit(cumOff)).otherwise(elseExpr)
    }
  }
}
