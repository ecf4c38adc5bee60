package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ingest.Toa5
import graft.pipeline.Site
import graft.sink.{NetCdf, Writers}

/** Operational CLI wrappers — the engine twin of the reference's
  * `bin/fs_process_l1.py` / `bin/fs_process_l2.py` entry points
  * (site positional arg, `-data_root`, `-metafile`, `-outfile`
  * overrides, and the `-ow` overwrite guard at fs_process_l1.py:41-49:
  * refusing to clobber an existing product unless explicitly forced).
  *
  * {{{
  *   runMain graft.Cli l1 fs1 -data_root /data [-metafile F] [-outfile P] [-ow]
  *   runMain graft.Cli l2 fs1 -data_root /data [-l1file P] [-outfile P] [-ow]
  * }}}
  *
  * Default layout mirrors the reference (fs_pp.py:186-190,
  * fs_process_l2.py:203): metafile at
  * `<root>/firn_stations/ppconfig/<site>.toml`, level-1 CSV at
  * `<root>/firn_stations/level-1/<site>.csv`, level-2 CSV + NetCDF at
  * `<root>/firn_stations/level-2/<site>.{csv,nc}`.
  *
  * Existence checks go through the Hadoop FileSystem resolved from
  * each path, so guards work on any URI the write side accepts, not
  * just the local filesystem.
  */
object Cli {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Cli <l1|l2> <site> [options]
        |  -data_root <dir>   root of the data tree (default: cwd)
        |  -metafile <path>   site TOML (default: <root>/firn_stations/ppconfig/<site>.toml)
        |  -outfile <path>    output override (l1: CSV dir; l2: CSV dir, .nc derived)
        |  -l1file <path>     l2 only: level-1 CSV to read (default: the l1 default path)
        |  -ow                force overwrite of an existing output""".stripMargin)
    sys.exit(2)
  }

  private case class Args(cmd: String, site: String, dataRoot: String,
                          metafile: Option[String], outfile: Option[String],
                          l1file: Option[String], ow: Boolean)

  private def parse(argv: Array[String]): Args = {
    if (argv.length < 2) usage()
    val cmd = argv(0)
    if (cmd != "l1" && cmd != "l2") usage()
    var a = Args(cmd, argv(1), new java.io.File(".").getCanonicalPath,
      None, None, None, ow = false)
    var i = 2
    // value-taking flag as the LAST token (value forgotten) must print
    // usage, not die on an ArrayIndexOutOfBoundsException
    def value(flag: String): String = {
      if (i + 1 >= argv.length) {
        System.err.println(s"missing value for $flag"); usage()
      }
      argv(i + 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case f @ "-data_root" => a = a.copy(dataRoot = value(f)); i += 2
        case f @ "-metafile" => a = a.copy(metafile = Some(value(f))); i += 2
        case f @ "-outfile" => a = a.copy(outfile = Some(value(f))); i += 2
        case f @ "-l1file" => a = a.copy(l1file = Some(value(f))); i += 2
        case "-ow" => a = a.copy(ow = true); i += 1
        case other =>
          System.err.println(s"unknown option: $other"); usage()
      }
    }
    a
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The reference's guard semantics: refuse to touch an existing
    * product unless -ow (fs_process_l1.py:41-49). Checked BEFORE any
    * compute, so a refused run costs nothing. */
  private def guard(spark: SparkSession, path: String, ow: Boolean,
                    what: String): Unit =
    if (!ow && exists(spark, path))
      throw new java.io.IOException(
        s"The $what output $path already exists. To overwrite, specify -ow.")

  def l1DefaultPath(root: String, site: String): String =
    s"$root/firn_stations/level-1/$site.csv"
  def l2DefaultPath(root: String, site: String): String =
    s"$root/firn_stations/level-2/$site.csv"

  /** load_level1_dataset (fs_pp.py:168-183): the Level-1 CSV read back
    * with the schema Level-1 wrote (`Toa5.schema`), built from the CSV's
    * own header line — no `inferSchema`, which costs a full extra read
    * and types an all-empty column as string. Cells that do not parse
    * (non-numeric text, the TOA5 'NAN' sentinel) read as null. Level-1
    * writes one CSV file, so the read is coalesced into one partition:
    * the unkeyed Level-2 pass then needs no shuffle. */
  private[graft] def loadL1(spark: SparkSession, path: String,
                            tsCol: String): DataFrame = {
    val cols = Toa5.namesAtLine(spark, firstDataFile(spark, path), 1,
      "Level-1 CSV")
    require(cols.contains(tsCol),
      s"Level-1 CSV $path has no time column $tsCol")
    spark.read.option("header", "true")
      .schema(Toa5.schema(cols, tsCol))
      // nullValue, NOT nanValue: the TOA5 'NAN' sentinel must read as
      // null (Toa5.read's convention) — as Double.NaN it is non-null,
      // so quality-flag imputation skips it and NaN poisons medians
      .option("nullValue", "NAN").csv(path)
      .coalesce(1)
  }

  /** The Level-2 frame `l2` persists: the site's Level-2 plan over the
    * Level-1 CSV at `l1Path`, in time order (the order its UDG pass
    * keeps, so the sort adds no work). */
  private[graft] def level2Frame(spark: SparkSession, site: Site.Spec,
                                 l1Path: String): DataFrame =
    site.level2(loadL1(spark, l1Path, site.cfg.tsCol))
      .orderBy(col(site.cfg.tsCol))

  /** `path` itself, or for a directory (Spark's CSV output) its first
    * visible file in name order — every part file carries the header. */
  private def firstDataFile(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(p).isDirectory) path
    else {
      val files = fs.listStatus(p).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath.toString).sorted
      require(files.nonEmpty, s"Level-1 CSV directory $path has no data file")
      files.head
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val metafile = a.metafile.getOrElse(
      s"${a.dataRoot}/firn_stations/ppconfig/${a.site}.toml")
    GraftSession.run { spark =>
      val site = Site.fromToml(spark, metafile, a.dataRoot)
      a.cmd match {
        case "l1" =>
          val out = a.outfile.getOrElse(l1DefaultPath(a.dataRoot, a.site))
          guard(spark, out, a.ow, "Level-1")
          // one read of the bales; written from the cache in the time
          // order the pass keeps. The row counts around the dedup, as
          // the reference prints them (fs_pp.py:98-104)
          val rows = site.withLevel1 { (l1, rows) =>
            Writers.csvSingle(l1, out, sortCols = Seq(site.cfg.tsCol))
            rows
          }
          println(s"[cli] level-1 rows: ${rows.in} ingested, ${rows.out} " +
            "after the keep-first dedup")
          println(s"[cli] level-1 written: $out")
        case "l2" =>
          val outCsv = a.outfile.getOrElse(l2DefaultPath(a.dataRoot, a.site))
          val outNc = outCsv.stripSuffix(".csv") + ".nc"
          guard(spark, outCsv, a.ow, "Level-2")
          guard(spark, outNc, a.ow, "Level-2 NetCDF")
          val l1Path = a.l1file.getOrElse(l1DefaultPath(a.dataRoot, a.site))
          // ONE Level-2 execution feeds both sinks, as the reference
          // exports one in-memory dataset (fs_process_l2.py:177-204).
          // Cached in time order, so both sinks' own time sorts are
          // satisfied by the cache and do not shuffle again. Released
          // even when the session is the caller's.
          val l2 = level2Frame(spark, site, l1Path).persist()
          try {
            Writers.csvSingle(l2, outCsv, sortCols = Seq(site.cfg.tsCol))
            // export-sized driver-side NetCDF (S8) with the reference's
            // site attribution (fs_process_l2.py:177-192)
            NetCdf.writeWide(outNc, l2, site.cfg.tsCol,
              globalAtts = Seq(
                NetCdf.Att("site", a.site),
                NetCdf.Att("source", "graft level-2 pipeline"),
                NetCdf.Att("timezone", "UTC")))
          } finally l2.unpersist()
          println(s"[cli] level-2 written: $outCsv, $outNc")
      }
    }
  }
}
