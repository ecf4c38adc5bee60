package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

/** Level-1 → Level-2: physical-range clamping, schema rename, UDG
  * normalisation + filtering, EC calibration — then long-form
  * export and the per-sensor depth recurrence.
  *
  * Reference lifecycle §3.2 (fs_pp.py:263-299, bin/fs_process_l2.py).
  * Composable pieces rather than one opaque run(): each step is a
  * DataFrame => DataFrame usable on its own.
  */
object Level2 {

  case class Config(
    tsCol: String,
    udgKey: String,                       // raw UDG column (e.g. TCDT)
    qKey: String,                         // quality-flag column
    validRanges: Map[String, (Double, Double)],
    removeColumns: Seq[String],
    renameRules: Seq[(String, String)],   // regex -> target with '*'
    heightChanges: Seq[Udg.HeightChange],
    ecFamilyRegex: String = """EC\([0-9]+\)""",
    ecCal: Map[String, (Double, Double)] = Map.empty) // col -> (m, c)

  /** EC calibration on wide columns: per-column (m, c) with mean
    * fallback, y = m·(1−x) + c — driver map → pure expressions, no join
    * (the long-form path is Calibration.applyLinear). */
  def calibrateEcWide(df: DataFrame, cfg: Config): DataFrame = {
    val ecCols = Reshape.familyCols(df, cfg.ecFamilyRegex)
    if (ecCols.isEmpty || cfg.ecCal.isEmpty) df
    else {
      val mMean = cfg.ecCal.values.map(_._1).sum / cfg.ecCal.size
      val cMean = cfg.ecCal.values.map(_._2).sum / cfg.ecCal.size
      // ONE projection for every EC column (a per-column fold
      // re-analyzes the growing plan once per sensor)
      df.withColumns(ecCols.map { ec =>
        val (m, c) = cfg.ecCal.getOrElse(ec, (mMean, cMean))
        ec -> Calibration.linear(col(ec), lit(m), lit(c),
          oneMinus = true)
      }.toMap)
    }
  }

  /** The filtered UDG series' working column until it takes
    * `udgTarget`'s name. */
  private val UdgIn = "__udg_l2"

  /** Full wide-table L2 in the REFERENCE's step order: clamp/drop →
    * EC calibration on the RAW EC(n) names (fs_pp.py runs
    * _calibrate_ec against level-1 and renames afterwards — which is
    * why Config's default ecFamilyRegex is the raw pattern; the old
    * order calibrated after the rename, where the default regex
    * matched nothing and calibration silently skipped) → rename →
    * UDG series at its renamed target (fs_pp.py:283-288).
    *
    * The UDG input is normalised and quality-masked on the RAW
    * Level-1 row, so clamping, `removeColumns` and the rename cannot
    * touch it; it rides through the wide projections and ONE
    * `Udg.filterMasked` pass filters it in place — one scan of
    * Level-1, no join back. That pass also emits exact duplicate rows
    * once, which is all the reference's final dedup does on a
    * timestamp-unique Level-1. */
  def run(l1: DataFrame, cfg: Config, udgTarget: String): DataFrame = {
    require(!l1.columns.contains(UdgIn),
      s"Level2.run: Level-1 already has a $UdgIn column")
    val normed = Udg.normalise(l1.withColumn(UdgIn, col(cfg.udgKey)),
      UdgIn, cfg.tsCol, cfg.heightChanges)
    val withUdg = normed.withColumn(UdgIn,
      Udg.qualityMasked(col(UdgIn), col(cfg.qKey)))
    val clamped = Ranges.applyValidRanges(withUdg, cfg.validRanges)
    val dropped = Cleaning.dropColumns(clamped, cfg.removeColumns)
    val calibrated = calibrateEcWide(dropped, cfg)
    val renames = Reshape.regexRenameMap(calibrated.columns.toSeq,
      cfg.renameRules)
    val renamed = calibrated.withColumnsRenamed(renames)
    Udg.filterMasked(renamed.drop(udgTarget), UdgIn, cfg.tsCol,
      keyCols = Nil).withColumnRenamed(UdgIn, udgTarget)
  }

  /** R1 — long-form export of one sensor family plus its install-depth
    * dimension: (ts, sensor, value, install_depth). */
  def familyLongForm(l2: DataFrame, cfg: Config, familyRegex: String,
                     idPattern: String,
                     installDepths: Map[Int, Double]): DataFrame = {
    val cols = Reshape.familyCols(l2, familyRegex)
    // unpivot with ZERO value columns throws an obscure
    // UNPIVOT_REQUIRES_VALUE_COLUMNS far from the cause
    require(cols.nonEmpty,
      s"familyLongForm: no columns match '$familyRegex' — wrong " +
        "regex, or this site has no sensors of that family")
    val long = Reshape.toLong(l2, Seq(cfg.tsCol), cols)
    val re = idPattern.r
    val dim = l2.sparkSession.createDataFrame(
      cols.flatMap { c =>
        re.findFirstMatchIn(c).map(m => (c, m.group(1).toInt))
      }.map { case (c, id) => (c, id, installDepths.getOrElse(id, Double.NaN)) }
    ).toDF("sensor", "sensor_id", "install_depth")
    long.join(broadcast(dim), Seq("sensor"), "left")
  }
}
