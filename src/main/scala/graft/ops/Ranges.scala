package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Valid-range clamping (P4) and mask operators (P5/P6/P7).
  *
  * Reference semantics: fs_pp.py:309-337 `_apply_valid_data_ranges` — for
  * each configured column (or regex-expanded column family) values outside
  * [vmin, vmax] become null; the row is kept. fs_pp.py:546-552 masks the
  * sonic-ranger series on its quality flag, imputing a null flag to 150.
  *
  * All of these are pure `Column` expressions: they stay inside
  * whole-stage codegen, cost no shuffle, and Catalyst pushes any
  * downstream `IsNotNull` filters through them into the scan.
  */
object Ranges {

  /** P4 — out-of-range values become null (row preserved). */
  def clampToNull(c: Column, vmin: Double, vmax: Double): Column =
    when(c.between(vmin, vmax), c)

  /** Apply [min,max] ranges to columns; keys of `ranges` may be exact
    * column names or prefixes expanded over a column family. The
    * default expansion mirrors fs_pp.py:323-330 EXACTLY: a
    * `TDR_<var>` key covers the `TDR<n>_<var>` columns, an `EC*` key
    * covers `EC(<n>)`, anything else matches only itself. (An earlier
    * generic `family\(n\)` default silently matched NOTHING for the
    * four TDR family keys — TDR columns are named `TDR1_VWC`-style —
    * so their physical ranges were never applied.) All clamps land in
    * one `withColumns` projection. */
  def applyValidRanges(df: DataFrame,
                       ranges: Map[String, (Double, Double)],
                       expand: String => String = key => {
                         val up = key.toUpperCase(java.util.Locale.ROOT)
                         if (up.startsWith("TDR") && key.length > 4)
                           "TDR[0-9]*_" + java.util.regex.Pattern
                             .quote(key.substring(4))
                         else if (up.startsWith("EC"))
                           """EC\([0-9]*\)"""
                         else java.util.regex.Pattern.quote(key)
                       }): DataFrame = {
    val cols = df.columns.toSet
    val targets: Seq[(String, (Double, Double))] = ranges.toSeq.flatMap {
      case (key, mm) if cols(key) => Seq(key -> mm)
      case (key, mm) =>
        val re = expand(key)
        df.columns.filter(_.matches(re)).map(_ -> mm).toSeq
    }
    // a column two keys match gets both clamps, composed
    val clamped = targets.groupMap(_._1)(_._2).map { case (c, mms) =>
      c -> mms.foldLeft(col(c)) { case (e, (lo, hi)) => clampToNull(e, lo, hi) }
    }
    if (clamped.isEmpty) df else df.withColumns(clamped)
  }

  /** P5 — quality-flag mask: keep `value` iff `qmin <= flag <= qmax`,
    * imputing a null flag to `nullFlagDefault` (fs_pp.py:546-552 keeps UDG
    * where 150 <= Q <= 210, null Q treated as 150). */
  def qualityMask(value: Column, flag: Column, qmin: Double, qmax: Double,
                  nullFlagDefault: Double): Column =
    when(coalesce(flag, lit(nullFlagDefault)).between(qmin, qmax), value)

  /** P6 — keep `value` iff |reference − value| < tol (fs_pp.py:562-563). */
  def deviationMask(value: Column, reference: Column, tol: Double): Column =
    when(abs(reference - value) < tol, value)
}
