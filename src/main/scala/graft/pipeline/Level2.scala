package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

/** Level-1 → Level-2: physical-range clamping, schema rename, UDG
  * normalisation + filtering, EC calibration, dedup — then long-form
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

  /** UDG chain on the RAW level-1 frame: normalise for mount changes,
    * then quality/outlier filter; returns (ts, <udgTarget>) to join back
    * (fs_pp.py:283-288). `keyCols` empty = single station. */
  def udgSeries(l1: DataFrame, cfg: Config, udgTarget: String): DataFrame = {
    val base = l1.select(col(cfg.tsCol), col(cfg.udgKey), col(cfg.qKey))
    val normed = Udg.normalise(base, cfg.udgKey, cfg.tsCol,
      cfg.heightChanges)
    val filtered = Udg.filter(normed, cfg.udgKey, cfg.qKey, cfg.tsCol,
      keyCols = Nil)
    filtered.select(col(cfg.tsCol), col(cfg.udgKey).as(udgTarget))
  }

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

  /** Full wide-table L2 in the REFERENCE's step order: clamp/drop →
    * EC calibration on the RAW EC(n) names (fs_pp.py runs
    * _calibrate_ec against level-1 and renames afterwards — which is
    * why Config's default ecFamilyRegex is the raw pattern; the old
    * order calibrated after the rename, where the default regex
    * matched nothing and calibration silently skipped) → rename →
    * UDG series at its renamed target → final dedup. */
  def run(l1: DataFrame, cfg: Config, udgTarget: String): DataFrame = {
    val clamped = Ranges.applyValidRanges(l1, cfg.validRanges)
    val dropped = Cleaning.dropColumns(clamped, cfg.removeColumns)
    val calibrated = calibrateEcWide(dropped, cfg)
    val renames = Reshape.regexRenameMap(calibrated.columns.toSeq,
      cfg.renameRules)
    val renamed = calibrated.withColumnsRenamed(renames)
    val udg = udgSeries(l1, cfg, udgTarget)
    val withUdg = renamed.drop(udgTarget)
      .join(udg, Seq(cfg.tsCol), "left")
    Cleaning.dropDuplicateRows(withUdg)
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
