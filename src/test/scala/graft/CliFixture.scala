package graft

import java.nio.file.{Files, Path}

/** A small firn station tree in the reference layout: two TOA5 bales of
  * 48 quarter-hourly scans each under `fielddata/<site>`, and the site
  * TOML under `firn_stations/ppconfig`. */
object CliFixture {

  private def ts(i: Int): String =
    java.time.LocalDateTime.of(2021, 4, 30, 0, 0)
      .plusMinutes(i.toLong * 15).toString.replace('T', ' ')

  /** One bale; each column of `extra` reads `1.5 + i / 100` at scan i. */
  private def writeBale(dir: Path, n: Int, rows: Range,
                        extra: Seq[String]): Unit = {
    def quoted(cells: Seq[String]) = cells.map(c => s""""$c"""").mkString(",")
    val header = Seq(
      """"TOA5","1","CR800","1","CR800.Std","CPU:t","1","MainTable"""",
      quoted(Seq("TIMESTAMP", "RECORD", "T107_C", "TCDT", "Q", "DT",
        "EC(1)", "EC(2)") ++ extra),
      quoted(Seq("TS", "RN", "Deg C", "m", "", "m", "mV", "mV") ++
        extra.map(_ => "")),
      quoted(Seq("", "") ++ Seq.fill(6 + extra.size)("Smp")))
    val data = rows.map { i =>
      s""""${ts(i)}",${i + 1},${-4.0 + (i % 3) * 0.1},2.065,170,0.4,0.93,0.95""" +
        extra.map(_ => s",${1.5 + i / 100.0}").mkString
    }
    Files.write(dir.resolve(s"MainTable$n.dat"),
      (header ++ data).mkString("\n").getBytes("UTF-8"))
  }

  /** Writes station `site` under `root`, with the `extra` columns in
    * its bales; returns `root`. */
  def station(root: Path, site: String, extra: Seq[String] = Nil): Path = {
    val sub = Files.createDirectories(root.resolve(s"fielddata/$site"))
    writeBale(sub, 1, 0 until 48, extra)
    writeBale(sub, 2, 48 until 96, extra)
    Files.createDirectories(root.resolve("firn_stations/ppconfig"))
    Files.writeString(root.resolve(s"firn_stations/ppconfig/$site.toml"),
      s"""site = '$site'
        |tz = 'UTC'
        |[level0_1]
        |udg_key = 'TCDT'
        |[level1_2]
        |remove_columns = ["RECORD", "DT"]
        |udg_height_change = [[2021-04-30, 2.06]]
        |[level0.fielddata]
        |subpath = 'fielddata/$site'
        |bales_start = 1
        |bales_stop = 2
        |""".stripMargin)
    root
  }

  /** Runs `f` on a new temporary directory, deleted afterwards. */
  def withTempDir[A](prefix: String)(f: Path => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** A new tree holding station fs9. */
  def siteTree(): Path = station(Files.createTempDirectory("cli"), "fs9")

  /** The single part file of the CSV directory `csvDir`. */
  def partFile(csvDir: String): Path =
    Files.list(java.nio.file.Paths.get(csvDir)).toArray
      .map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).head
}
