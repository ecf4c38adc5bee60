package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.Toml
import graft.ops.Udg

/** The reference's library API surface: construct from a site TOML
  * metafile, then run level0→level1→level2
  * (cassandra_fs_pp/__init__.py:1, fs_pp.py:29-65 `_load_config`,
  * README.md "Metadata files") — but holding DataFrames instead of
  * mutable eager state. `level1` runs the Level-1 pass as one query
  * (it must run to learn which all-null columns it drops) and returns
  * the product collected on the driver, with the pass's row counts (see
  * `Level1.product`); `level2` is a lazy plan over a Level-1 frame,
  * which `Cli` reads back from the Level-1 CSV.
  *
  * {{{
  *   val site = Site.fromToml(spark, "/data/ppconfig/fs1.toml", dataRoot)
  *   val l1 = site.level1()              // reads the bales once
  *   Writers.csvSingle(spark, l1.schema, l1.rows, l1Csv)
  *   val l2 = site.level2(Cli.loadL1(spark, l1Csv, site.cfg.tsCol))
  * }}}
  */
object Site {

  val RequiredKeys = Seq("site", "level0_1.udg_key")

  /** Default L2 regex rename rules (the reference ships these as
    * cassandra_fs_pp/fs_column_names.csv; same mappings, driver-side). */
  val DefaultRenameRules: Seq[(String, String)] = Seq(
    ("""DTC1\(([0-9]+)\)""", "DTC1_*(C)"),
    ("""DTC2\(([0-9]+)\)""", "DTC2_*(C)"),
    ("""EC\(([0-9]+)\)""", "EC_*(microS)"),
    ("""(TDR[0-9]+)_VWC""", "*_VWC(m3/m3)"),
    ("""(TDR[0-9]+)_T""", "*_T(C)"),
    ("""(TDR[0-9]+)_EC""", "*_EC(dS/m)"),
    ("""(TDR[0-9]+)_Perm""", "*_Perm()"),
    ("""TCDT""", "TCDT(m)"),
    ("""T107_C""", "t_air(C)"))

  /** Default valid physical ranges
    * (cassandra_fs_pp/valid_data_ranges.toml). */
  val DefaultValidRanges: Map[String, (Double, Double)] = Map(
    "T107_C" -> (-50.0, 10.0), "TDR_T" -> (-50.0, 10.0),
    "TDR_VWC" -> (0.0, 1.0), "TDR_Perm" -> (1.0, 81.0),
    "TDR_EC" -> (0.0, 8.0), "EC" -> (0.5, 1.0))

  case class Spec(spark: SparkSession, site: String,
                  sources: Seq[Level1.Source], cfg: Level2.Config,
                  udgTarget: String) {
    def level1(): Level1.Product = Level1.product(spark, sources, cfg.tsCol)
    def level2(l1: DataFrame): DataFrame = Level2.run(l1, cfg, udgTarget)
  }

  def fromToml(spark: SparkSession, metafile: String,
               dataRoot: String): Spec = {
    val m = Toml.parseFile(metafile)
    RequiredKeys.foreach(k =>
      require(m.contains(k), s"missing required config key: $k"))

    val sources = Toml.keysUnder(m, "level0")
      .filter(_.endsWith(".subpath")).map { k =>
        val sec = k.stripSuffix(".subpath")
        val subpath = Toml.str(m, k)
        val serviced = m.getOrElse(s"$sec.serviced", false)
          .asInstanceOf[Boolean]
        val nrows = m.get(s"$sec.nrows").map(_.asInstanceOf[Long].toInt)
        // reference datasets are `type = 'bales' | 'onefile'`
        // (fs_pp.py:126-129); for onefile the subpath names the file
        m.getOrElse(s"$sec.type", "bales") match {
          case "onefile" =>
            val slash = subpath.lastIndexOf('/')
            val (parent, file) =
              if (slash < 0) ("", subpath)
              else (subpath.substring(0, slash + 1),
                subpath.substring(slash + 1))
            Level1.Source.onefile(
              dir = s"$dataRoot/$parent".stripSuffix("/"),
              file = file, nrows = nrows, serviced = serviced)
          case _ =>
            Level1.Source(
              dir = s"$dataRoot/$subpath",
              balesStart = m.getOrElse(s"$sec.bales_start", 1L)
                .asInstanceOf[Long].toInt,
              balesStop = m.getOrElse(s"$sec.bales_stop", 1L)
                .asInstanceOf[Long].toInt,
              nrows = nrows, serviced = serviced)
        }
      }

    val heightChanges = m.get("level1_2.udg_height_change")
      .map(_.asInstanceOf[List[Any]].map { e =>
        val l = e.asInstanceOf[List[Any]]
        Udg.HeightChange(l.head.asInstanceOf[java.sql.Timestamp],
          l.lift(1).map(Toml.dblValue))
      }).getOrElse(Nil)

    val removeCols = m.get("level1_2.remove_columns")
      .map(_.asInstanceOf[List[Any]].map(_.toString)).getOrElse(Nil)

    val udgKey = Toml.str(m, "level0_1.udg_key")
    val site = Toml.str(m, "site")
    val cfg = Level2.Config(
      tsCol = Toml.strOpt(m, "level0_1.index_col").getOrElse("TIMESTAMP"),
      udgKey = udgKey,
      qKey = Toml.strOpt(m, "level0_1.q_key").getOrElse("Q"),
      validRanges = DefaultValidRanges,
      removeColumns = removeCols,
      renameRules = DefaultRenameRules,
      heightChanges = heightChanges,
      // default ecFamilyRegex: calibration runs on the RAW EC(n)
      // columns before the rename (Level2.run's reference order)
      ecCal = loadEcCal(spark,
        s"$dataRoot/ec_calibration/" +
          s"calibration_coefficients_${site.toUpperCase(
            java.util.Locale.ROOT)}_c0.csv"))
    val udgTarget = graft.ops.Reshape
      .regexRenameMap(Seq(udgKey), DefaultRenameRules)
      .getOrElse(udgKey, udgKey)
    Spec(spark, site, sources, cfg, udgTarget)
  }

  /** EC calibration coefficients from the reference's side-table
    * location (`{data_root}/ec_calibration/calibration_coefficients_
    * {SITE}_c0.csv`, fs_pp.py:597-603: index = raw column name,
    * columns m, c). Driver-side tiny read. An ABSENT file yields an
    * empty map with a loud warning — the reference crashes there;
    * skipping silently would hide an uncalibrated export. */
  def loadEcCal(spark: SparkSession,
                path: String): Map[String, (Double, Double)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"no EC calibration file at $path — EC columns will NOT be " +
          "calibrated (the reference fails here; supply the CSV for " +
          "calibrated output)")
      Map.empty
    } else {
      val in = fs.open(p)
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toSeq
        require(lines.nonEmpty, s"empty EC calibration file: $path")
        val hdr = lines.head.split(",").map(_.trim)
        val mi = hdr.indexOf("m"); val ci = hdr.indexOf("c")
        require(mi > 0 && ci > 0,
          s"EC calibration header needs m and c columns: ${lines.head}")
        lines.tail.filter(_.trim.nonEmpty).map { l =>
          val f = l.split(",").map(_.trim)
          f(0) -> (f(mi).toDouble, f(ci).toDouble)
        }.toMap
      } finally in.close()
    }
  }
}
