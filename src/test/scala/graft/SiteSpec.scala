package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

import graft.pipeline.Site

/** End-to-end: TOML metafile → Level1 → Level2, the way a reference
  * user would drive the library. Fixture generated (structure per
  * FIXTURES.md). */
class SiteSpec extends SparkSpec {

  private def ts(i: Int): String =
    java.time.LocalDateTime.of(2021, 4, 30, 0, 0)
      .plusMinutes(i.toLong * 15).toString.replace('T', ' ')

  private def writeBale(dir: Path, n: Int, rows: Range): Unit = {
    val header = Seq(
      """"TOA5","1","CR800","1","CR800.Std","CPU:t","1","MainTable"""",
      """"TIMESTAMP","RECORD","T107_C","TCDT","Q","DT","EC(1)","EC(2)"""",
      """"TS","RN","Deg C","m","","m","mV","mV"""",
      """"","","Smp","Smp","Smp","Smp","Smp","Smp"""")
    val data = rows.map { i =>
      s""""${ts(i)}",${i + 1},${-4.0 + (i % 3) * 0.1},2.065,170,0.4,0.93,0.95"""
    }
    Files.write(dir.resolve(s"MainTable$n.dat"),
      (header ++ data).mkString("\n").getBytes("UTF-8"))
  }

  /** A two-bale site (96 scans) and its TOML metafile. */
  private def twoBaleSite(): Site.Spec = {
    val root = Files.createTempDirectory("site")
    val sub = Files.createDirectory(root.resolve("fielddata"))
    writeBale(sub, 1, 0 until 48)
    writeBale(sub, 2, 48 until 96)
    val toml = root.resolve("fs1.toml")
    Files.writeString(toml,
      """site = 'FS_TEST'
        |tz = 'UTC'
        |[level0_1]
        |udg_key = 'TCDT'
        |[level1_2]
        |remove_columns = ["RECORD", "DT"]
        |udg_height_change = [[2021-04-30, 2.06]]
        |[level0.fielddata]
        |subpath = 'fielddata'
        |bales_start = 1
        |bales_stop = 2
        |""".stripMargin)
    Site.fromToml(spark, toml.toString, root.toString)
  }

  test("TOML-driven site pipeline runs L0→L1→L2") {
    val site = twoBaleSite()
    assert(site.site === "FS_TEST")
    assert(site.udgTarget === "TCDT(m)")

    site.withLevel1 { (l1, _) =>
      assert(l1.count() === 96)
      val l2 = site.level2(l1).cache()
      try {
        assert(l2.count() === 96)
        assert(l2.columns.contains("TCDT(m)"))
        assert(l2.columns.contains("t_air(C)"))
        assert(l2.columns.contains("EC_1(microS)"))
        assert(!l2.columns.contains("RECORD"))
        // normalised UDG ≈ 2.065 - 2.06
        val udg = l2.agg(avg(col("TCDT(m)"))).head().getDouble(0)
        assert(math.abs(udg - 0.005) < 1e-6)
      } finally l2.unpersist()
    }
  }

  test("withLevel1 reads the bales in one scan stage, an action on the " +
    "product included") {
    val site = twoBaleSite()
    val (_, scanStages) = jobsAndScanStagesDuring {
      assert(site.withLevel1 { (l1, _) => l1.count() } === 96)
    }
    // the pass into the cache reads the bales; the action reads the
    // cache. A Level-1 plan that learns its all-null columns by running
    // the pass, with no cache, reads them again for the action: 2.
    assert(scanStages === 1, s"the bales were read by $scanStages stages")
  }

  test("TOML onefile dataset with serviced discovery") {
    val root = Files.createTempDirectory("site1f")
    val sub = Files.createDirectory(root.resolve("logger"))
    writeBale(sub, 1, 0 until 24)
    Files.move(sub.resolve("MainTable1.dat"), sub.resolve("single.dat"))
    val sv = Files.createDirectory(sub.resolve("serviced"))
    writeBale(sub, 9, 24 until 30)
    Files.move(sub.resolve("MainTable9.dat"), sv.resolve("x_MainTable_sv.dat"))
    val toml = root.resolve("fs2.toml")
    Files.writeString(toml,
      """site = 'FS_ONE'
        |[level0_1]
        |udg_key = 'TCDT'
        |[level0.logger]
        |type = 'onefile'
        |subpath = 'logger/single.dat'
        |serviced = true
        |""".stripMargin)
    val site = Site.fromToml(spark, toml.toString, root.toString)
    site.withLevel1 { (l1, _) =>
      assert(l1.count() === 30) // 24 from the file + 6 serviced
    }
  }
}
