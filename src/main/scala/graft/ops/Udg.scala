package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, TimestampType}

import graft.plans.{OrderedKernel, RowKernel}

/** The UDG (sonic-ranger surface height) processing chain:
  * piecewise normalisation for sensor re-mounts (C3) and the
  * quality/outlier filter pipeline (P5 → A2 → W3 → W1 → P6 → J5).
  *
  * Reference semantics: `_normalise_udg` fs_pp.py:452-511 and
  * `_filter_udg` fs_pp.py:514-567.
  */
object Udg {

  private val MicrosPerSec = 1000000L

  /** One sensor-height change event: at `at`, the mount moved. If
    * `change` is given it is subtracted from all data at/after `at`
    * (cumulatively with prior changes); if None the change is
    * auto-computed as (median of `window` before) − (median of `window`
    * after) sign-adjusted: post − pre (fs_pp.py:486-496). */
  case class HeightChange(at: java.sql.Timestamp, change: Option[Double])

  /** C3 — normalise a UDG series for mount changes. ALL auto change
    * points resolve in ONE aggregate pass (two conditional medians per
    * point, driver scalars rounded to 2 dp like the reference) — the
    * per-point sequential form scanned the full series once per
    * change; the correction itself is a pure chained CASE over
    * cumulative offsets. */
  def normalise(df: DataFrame, udgCol: String, tsCol: String,
                changes: Seq[HeightChange],
                windowDays: Int = 1): DataFrame = {
    val sorted = changes.sortBy(_.at.getTime)
    val autos = sorted.zipWithIndex.filter(_._1.change.isEmpty)
    val deltas: Map[Int, Double] =
      if (autos.isEmpty) Map.empty
      else {
        val aggs = autos.flatMap { case (hc, i) =>
          val t = hc.at.getTime
          val pre = new java.sql.Timestamp(t - windowDays * 86400000L)
          val post = new java.sql.Timestamp(t + windowDays * 86400000L)
          Seq(
            round(median(when(col(tsCol).between(lit(pre), lit(hc.at)),
              col(udgCol))), 2).as(s"__pre$i"),
            round(median(when(col(tsCol).between(lit(hc.at), lit(post)),
              col(udgCol))), 2).as(s"__post$i"))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        autos.map { case (_, i) =>
          val pi = row.fieldIndex(s"__pre$i")
          val qi = row.fieldIndex(s"__post$i")
          i -> (if (row.isNullAt(pi) || row.isNullAt(qi)) 0.0
                else row.getDouble(qi) - row.getDouble(pi))
        }.toMap
      }
    val resolved: Seq[(java.sql.Timestamp, Double)] =
      sorted.zipWithIndex.map { case (hc, i) =>
        hc.at -> hc.change.getOrElse(deltas(i))
      }
    df.withColumn(udgCol,
      col(udgCol) - Joins.piecewiseOffset(col(tsCol), resolved))
  }

  /** P5 — the reference's UDG quality mask: keep iff 150 ≤ Q ≤ 210,
    * a null Q imputed to 150 (fs_pp.py:546-552). */
  def qualityMasked(udg: Column, q: Column): Column =
    Ranges.qualityMask(udg, q, 150, 210, 150)

  /** P5→A2→W3→W1→P6→J5 — the UDG outlier filter:
    *  1. quality mask: keep iff 150 ≤ Q ≤ 210, null Q imputed to 150;
    *  2. infer the key's modal sampling interval;
    *  3. regularize onto that grid, forward-filling ≤ `ffillLimit` gaps;
    *  4. trailing `medianDays`-day rolling median on the regular grid;
    *  5. drop samples deviating ≥ `tol` from the rolling median;
    *  6. report the result back at the original sample times.
    * Steps 2–6 are `filterMasked`; see there for the contract. */
  def filter(df: DataFrame, udgCol: String, qCol: String, tsCol: String,
             keyCols: Seq[String],
             ffillLimit: Int = 3, medianDays: Double = 2.0,
             tol: Double = 0.5): DataFrame =
    filterMasked(
      df.withColumn(udgCol, qualityMasked(col(udgCol), col(qCol))),
      udgCol, tsCol, keyCols, ffillLimit, medianDays, tol)

  /** Steps 2–6 of `filter` on an already quality-masked `udgCol`, as
    * ONE ordered pass per key — the reference's `_filter_udg` is one
    * pass over one station's series. An `OrderedKernel` clusters the
    * rows by `keyCols` (one partition when there are none; an input
    * already in one partition is not shuffled), sorts them by
    * (keys, ts) and runs each key's run through `UdgKernel`, which
    * computes in order: the key's own modal gap (`modalIntervalSec`),
    * the min(ts)-anchored grid, the ≤ `ffillLimit` forward fill, the
    * trailing (t − medianDays, t] median and the |median − value| <
    * `tol` mask. The result keeps the (keys, ts) order, so a time sort
    * of an unkeyed result needs no sort of its own.
    *
    * Every input column passes through; only `udgCol` is replaced (as
    * a nullable double). Exact duplicate rows are emitted once; distinct rows
    * that share a (key, ts) fail with "distinct rows share one
    * timestamp" — the series needs one sample per instant (Level-1
    * keeps the first row per timestamp). A row with a null ts has no
    * place on the grid and keeps a null `udgCol`.
    *
    * GRID CONTRACT: values exist only at EXACT instants of a
    * min(ts)-anchored modal grid (pandas `asfreq` semantics), so
    * samples whose timestamps drift off that grid — e.g. the tail of a
    * series after a mid-deployment logger restart at an off-cadence
    * minute — come back null. TOA5 loggers emit on their grid, so the
    * reference's data satisfies this; a drifting series should be
    * split at the restart (each segment re-anchors) before filtering.
    *
    * Memory: one key's rows are held at once, O(rows of one key) —
    * the bound of the unkeyed `WindowExec`s this replaces. The grid
    * itself is never materialized: only its non-null filled points
    * (≤ (ffillLimit + 1) per sample) are. */
  def filterMasked(df: DataFrame, udgCol: String, tsCol: String,
                   keyCols: Seq[String],
                   ffillLimit: Int = 3, medianDays: Double = 2.0,
                   tol: Double = 0.5): DataFrame = {
    require(df.schema(tsCol).dataType == TimestampType,
      s"Udg.filter: $tsCol is ${df.schema(tsCol).dataType}, not a " +
        "timestamp — the grid is built on UTC instants")
    require(ffillLimit >= 0, s"Udg.filter: ffillLimit $ffillLimit < 0")
    val in = df.withColumn(udgCol, col(udgCol).cast(DoubleType))
    val schema = in.schema
    val kernel = new UdgKernel(
      keyCols.map(k => schema.fieldIndex(k) -> schema(k).dataType),
      schema.fieldIndex(tsCol), schema.fieldIndex(udgCol), ffillLimit,
      // the (t − w, t] frame bound in µs, computed as the window
      // operators do (Windows.timeRange) so the edges agree exactly
      (medianDays * 86400 * MicrosPerSec).toLong, tol)
    OrderedKernel(in, kernel, keys = keyCols, orderBy = Seq(tsCol),
      replaced = Seq(udgCol))
  }

  /** A2 — modal spacing between consecutive timestamps (µs, ascending
    * and distinct), in seconds (fs_pp.py:557-558 infers the logger
    * cadence). Returns the most common gap; ties break toward the
    * smaller gap. */
  private[graft] def modalIntervalSec(ts: Array[Long]): Long = {
    // fail with CONTEXT: a single reading has no gap to infer from
    require(ts.length >= 2,
      "modalIntervalSec: no consecutive-reading gaps — the key " +
        "has fewer than 2 rows; a cadence cannot be inferred")
    val gaps = Array.tabulate(ts.length - 1)(i => ts(i + 1) - ts(i))
    java.util.Arrays.sort(gaps)
    var modal = gaps(0); var best = 0; var i = 0
    while (i < gaps.length) {
      var j = i
      while (j < gaps.length && gaps(j) == gaps(i)) j += 1
      // strictly greater: an equal count keeps the smaller gap
      if (j - i > best) { best = j - i; modal = gaps(i) }
      i = j
    }
    // a sub-second or fractional-second cadence would silently
    // truncate (500 ms → a zero-second step; 1.5 s → a wrong 1 s
    // grid): reject loudly — the second-granular API is the
    // TOA5-logger contract
    require(modal > 0 && modal % MicrosPerSec == 0,
      s"modalIntervalSec: modal gap is $modal µs — not a whole " +
        "positive number of seconds; this API is second-granular " +
        "(TOA5 cadences); resample such data on a µs grid instead")
    modal / MicrosPerSec
  }

  /** Exact interpolating median of `s(0 until n)` (sorted) — Spark's
    * `percentile(x, 0.5)`: position (n − 1)·0.5, value
    * (hi − pos)·x[lo] + (pos − lo)·x[hi], no interpolation between
    * equal neighbours. */
  private def sortedMedian(s: Array[Double], n: Int): Double = {
    val pos = (n - 1) * 0.5
    val lo = pos.floor.toLong
    val hi = pos.ceil.toLong
    val a = s(lo.toInt)
    if (hi == lo) a
    else {
      val b = s(hi.toInt)
      if (java.lang.Double.doubleToLongBits(a) ==
          java.lang.Double.doubleToLongBits(b)) a
      else (hi - pos) * a + (pos - lo) * b
    }
  }

  /** The per-key pass of `filterMasked` over rows sorted by
    * (keys, ts). */
  private final class UdgKernel(keys: Seq[(Int, DataType)], tsIdx: Int,
                                udgIdx: Int, ffillLimit: Int,
                                windowMicros: Long, tol: Double)
      extends RowKernel {

    def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
      val in = rows.buffered
      def key(r: InternalRow): Seq[Any] = keys.map { case (i, t) => r.get(i, t) }
      new Iterator[Iterator[InternalRow]] {
        def hasNext: Boolean = in.hasNext
        def next(): Iterator[InternalRow] = {
          val first = in.next().copy()
          val k = key(first)
          val run = ArrayBuffer(first)
          while (in.hasNext && key(in.head) == k) run += in.next().copy()
          filterKey(k, run)
        }
      }.flatten
    }

    private def sameTs(a: InternalRow, b: InternalRow): Boolean =
      if (a.isNullAt(tsIdx)) b.isNullAt(tsIdx)
      else !b.isNullAt(tsIdx) && a.getLong(tsIdx) == b.getLong(tsIdx)

    private def filterKey(k: Seq[Any],
                          run: ArrayBuffer[InternalRow]): Iterator[InternalRow] = {
      // exact duplicates once; distinct rows at one instant fail
      val rows = new ArrayBuffer[InternalRow](run.length)
      run.foreach { r =>
        val prev = if (rows.isEmpty) null else rows.last
        if (prev != null && sameTs(prev, r)) {
          if (prev != r) throw new IllegalArgumentException(
            s"Udg.filter: distinct rows share one timestamp " +
              (if (r.isNullAt(tsIdx)) "null"
               else DateTimeUtils.microsToInstant(r.getLong(tsIdx))) +
              (if (keys.isEmpty) "" else s" of key ${k.mkString(", ")}") +
              " — the UDG series needs one sample per instant; keep " +
              "one row per timestamp first (Level-1 keeps the first)")
        } else rows += r
      }
      // nulls sort first: rows without a place on the time axis
      val nullTs = rows.indexWhere(!_.isNullAt(tsIdx)) match {
        case -1 => rows.length
        case i => i
      }
      val n = rows.length - nullTs
      val out = filterSeries(
        Array.tabulate(n)(i => rows(nullTs + i).getLong(tsIdx)),
        Array.tabulate(n) { i =>
          val r = rows(nullTs + i)
          if (r.isNullAt(udgIdx)) None else Some(r.getDouble(udgIdx))
        })
      rows.iterator.zipWithIndex.map { case (r, i) =>
        val v = if (i < nullTs) null else out(i - nullTs)
        if (v == null) r.setNullAt(udgIdx)
        else r.setDouble(udgIdx, v.asInstanceOf[Double])
        r
      }
    }

    /** One key's series: ascending distinct instants `t` (µs) and
      * masked values `v`; returns the filtered value per instant
      * (null = dropped). */
    private def filterSeries(t: Array[Long],
                             v: Array[Option[Double]]): Array[Any] = {
      val n = t.length
      val step = modalIntervalSec(t) * MicrosPerSec
      val t0 = t(0)
      val lastK = (t(n - 1) - t0) / step
      def onGrid(i: Int) = (t(i) - t0) % step == 0
      def gridK(i: Int) = (t(i) - t0) / step
      // the filled grid, sparse: its non-null points in grid order —
      // each on-grid sample's own value, then up to ffillLimit copies
      // on the following grid points before the next non-null sample
      val valued = (0 until n).filter(i => onGrid(i) && v(i).isDefined)
      val fkb = Array.newBuilder[Long]
      val fvb = Array.newBuilder[Double]
      valued.indices.foreach { j =>
        val stop = math.min(
          if (j + 1 < valued.length) gridK(valued(j + 1)) - 1 else lastK,
          gridK(valued(j)) + ffillLimit)
        var kk = gridK(valued(j))
        while (kk <= stop) { fkb += kk; fvb += v(valued(j)).get; kk += 1 }
      }
      val fk = fkb.result()
      val fv = fvb.result()
      // trailing window over the filled points: a sorted buffer of the
      // values with grid index in (k − w, k]
      val window = new Array[Double](fk.length)
      var size = 0; var lo = 0; var hi = 0; var at = 0
      val out = new Array[Any](n)
      (0 until n).foreach { i =>
        if (onGrid(i)) {
          val k = gridK(i)
          while (hi < fk.length && fk(hi) <= k) {
            val x = fv(hi)
            val p = java.util.Arrays.binarySearch(window, 0, size, x)
            val ins = if (p >= 0) p else -p - 1
            System.arraycopy(window, ins, window, ins + 1, size - ins)
            window(ins) = x; size += 1; hi += 1
          }
          while (lo < hi && (k - fk(lo)) * step >= windowMicros) {
            val p = java.util.Arrays.binarySearch(window, 0, size, fv(lo))
            System.arraycopy(window, p + 1, window, p, size - p - 1)
            size -= 1; lo += 1
          }
          while (at < fk.length && fk(at) < k) at += 1
          if (at < fk.length && fk(at) == k && size > 0) {
            val x = fv(at)
            if (math.abs(sortedMedian(window, size) - x) < tol) out(i) = x
          }
        }
      }
      out
    }
  }
}
