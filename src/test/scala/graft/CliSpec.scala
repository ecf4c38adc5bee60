package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** The operational wrappers: default reference layout, the -ow
  * overwrite guard, and the L1-CSV → L2 read-back seam (the one part
  * of the CLI path no other spec exercises — Level2 everywhere else
  * consumes the in-memory L1 plan, not the round-tripped CSV). */
class CliSpec extends SparkSpec {

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

  private def siteTree(): Path = {
    val root = Files.createTempDirectory("cli")
    val sub = Files.createDirectories(root.resolve("fielddata"))
    writeBale(sub, 1, 0 until 48)
    writeBale(sub, 2, 48 until 96)
    Files.createDirectories(root.resolve("firn_stations/ppconfig"))
    Files.writeString(root.resolve("firn_stations/ppconfig/fs9.toml"),
      """site = 'fs9'
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
    root
  }

  /** The Level-1 CSV's single part file. */
  private def partFile(csvDir: String): Path =
    Files.list(java.nio.file.Paths.get(csvDir)).toArray
      .map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).head

  test("l1 + l2 over the default layout; guard refuses, -ow forces") {
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    val l1Path = Cli.l1DefaultPath(root, "fs9")
    val l1 = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(l1Path)
    assert(l1.count() === 96)

    // the reference's IOError semantics: existing product + no -ow
    val e = intercept[java.io.IOException] {
      Cli.main(Array("l1", "fs9", "-data_root", root))
    }
    assert(e.getMessage.contains("-ow"))
    // forced overwrite succeeds and leaves the same row count
    Cli.main(Array("l1", "fs9", "-data_root", root, "-ow"))
    assert(spark.read.option("header", "true").csv(l1Path).count() === 96)

    Cli.main(Array("l2", "fs9", "-data_root", root))
    val l2Csv = Cli.l2DefaultPath(root, "fs9")
    val l2 = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(l2Csv)
    assert(l2.count() === 96)
    assert(l2.columns.contains("TCDT(m)") && l2.columns.contains("t_air(C)"))
    // the derived .nc exists and re-reads through the spec reader
    val nc = l2Csv.stripSuffix(".csv") + ".nc"
    assert(Files.exists(java.nio.file.Paths.get(nc)))
    // L2 values survived the CSV round-trip: normalised UDG ≈ 0.005
    val udg = l2.agg(avg(col("TCDT(m)").cast("double"))).head().getDouble(0)
    assert(math.abs(udg - 0.005) < 1e-6)
    // l2 guard trips on the NetCDF too, not just the CSV
    val e2 = intercept[java.io.IOException] {
      Cli.main(Array("l2", "fs9", "-data_root", root))
    }
    assert(e2.getMessage.contains("-ow"))
  }

  test("l2 runs the Level-2 plan once for both sinks and releases it") {
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    // start from an empty cache so the checks below see only Cli's
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val jobs = jobsDuring { Cli.main(Array("l2", "fs9", "-data_root", root)) }
    // 13 on this fixture: the UDG chain's build-time probes, ONE
    // Level-2 execution into the time-sorted cache, and the two sinks
    // reading it. A sink that re-executes the Level-2 plan passes 15
    // (20); with a schema-inferring read-back on top it is 22.
    assert(jobs <= 15, s"Cli l2 ran $jobs jobs")
    assert(spark.sharedState.cacheManager.isEmpty,
      "Cli l2 left its Level-2 frame in the cache manager")
    assert(spark.sparkContext.getPersistentRDDs.keySet === rddsBefore,
      "Cli l2 left persisted blocks behind")

    // both sinks carry the same rows: the .nc time dimension and the
    // UDG series equal the CSV's, value for value, in time order
    val l2Csv = Cli.l2DefaultPath(root, "fs9")
    val csv = spark.read.option("header", "true").csv(l2Csv)
      .select(col("TIMESTAMP").cast("timestamp"),
        col("`TCDT(m)`").cast("double"))
      .orderBy("TIMESTAMP").collect()
    val nc = NcReader.read(l2Csv.stripSuffix(".csv") + ".nc")
    assert(nc.dims === Seq(("TIMESTAMP", csv.length)))
    val byName = nc.vars.map(v => v.name -> v).toMap
    assert(nc.data(byName("TIMESTAMP")).toSeq ===
      csv.map(_.getTimestamp(0).getTime / 1000.0).toSeq)
    val udg = nc.data(byName("TCDT(m)"))
    csv.zipWithIndex.foreach { case (r, i) =>
      if (r.isNullAt(1)) assert(udg(i).isNaN, s"row $i")
      else assert(udg(i) === r.getDouble(1), s"row $i")
    }
  }

  test("l2 reads the Level-1 CSV back with Level-1's own schema") {
    val dir = Files.createTempDirectory("clil1")
    val l1 = dir.resolve("l1.csv")
    Files.write(l1, Seq(
      "TIMESTAMP,RECORD,Q,TCDT,Spare",
      "2021-04-30T00:00:00.000Z,1,170,2.065,",
      "2021-04-30T00:15:00.000Z,2,171,abc,").mkString("\n").getBytes("UTF-8"))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val df = Cli.loadL1(spark, l1.toString, "TIMESTAMP")
      assert(df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq
        === Seq("TIMESTAMP" -> "timestamp", "RECORD" -> "long",
          "Q" -> "double", "TCDT" -> "double", "Spare" -> "double"))
      val rows = df.orderBy("RECORD").collect()
      assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L))
      assert(rows.map(_.getDouble(2)).toSeq === Seq(170.0, 171.0))
      // a non-numeric cell is null, its row intact
      assert(rows(0).getDouble(3) === 2.065 && rows(1).isNullAt(3))
      // an all-empty column is null doubles (inferSchema: strings)
      assert(rows.forall(_.isNullAt(4)))
      assert(rows(1).getTimestamp(0) ===
        java.sql.Timestamp.valueOf("2021-04-30 00:15:00"))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)

    // end to end: an all-empty Level-1 column reaches the NetCDF as a
    // NaN variable instead of being dropped as a string column
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    val lines = new String(Files.readAllBytes(
      partFile(Cli.l1DefaultPath(root, "fs9"))), "UTF-8").split("\n")
    val withSpare = dir.resolve("spare.csv")
    Files.write(withSpare, (s"${lines.head},Spare" +: lines.tail.map(_ + ","))
      .mkString("\n").getBytes("UTF-8"))
    val out = dir.resolve("l2/fs9.csv").toString
    Cli.main(Array("l2", "fs9", "-data_root", root,
      "-l1file", withSpare.toString, "-outfile", out))
    val nc = NcReader.read(out.stripSuffix(".csv") + ".nc")
    val spare = nc.vars.find(_.name == "Spare")
    assert(spare.isDefined, s"no Spare variable in ${nc.vars.map(_.name)}")
    assert(nc.data(spare.get).forall(_.isNaN))
  }
}
