package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

import graft.ingest.Toa5
import graft.pipeline.Level1

/** S1–S3 + §3.1 pipeline on a GENERATED TOA5 fixture (structure per
  * FIXTURES.md §1; values synthesized here, deterministic). Bales overlap
  * (bale2 re-transmits bale1's last 4 timestamps with different RECORDs)
  * to exercise keep-first dedup, and one column is all-NAN to exercise
  * the null-column drop. */
class Toa5IngestSpec extends SparkSpec {

  /** The Level-1 product of `sources`, as a frame to query. */
  private def l1Frame(sources: Seq[Level1.Source]) = {
    val p = Level1.product(spark, sources)
    frameOf(p.schema, p.rows)
  }

  private def ts(minOffset: Int): String =
    java.time.LocalDateTime.of(2021, 4, 30, 18, 0)
      .plusMinutes(minOffset.toLong * 15).toString.replace('T', ' ')

  /** rows = (record, tsIndex); value columns derive from the record so
    * provenance of each surviving row is checkable. */
  private def writeBale(dir: Path, n: Int, rows: Seq[(Int, Int)]): Unit = {
    val header = Seq(
      """"TOA5","99999","CR800","99999","CR800.Std.32.03","CPU:test.CR8","1","MainTable"""",
      """"TIMESTAMP","RECORD","BattV_Min","T107_C","TCDT","Q","AllNan"""",
      """"TS","RN","Volts","Deg C","m","unitless","m"""",
      """"","","Min","Smp","Smp","Smp","Smp"""")
    val data = rows.map { case (rec, i) =>
      val tcdt = 2.0 - i * 0.001
      s""""${ts(i)}",$rec,12.5,${-5.0 + i * 0.01},$tcdt,${160 + rec % 10},NAN"""
    }
    Files.write(dir.resolve(s"MainTable$n.dat"),
      (header ++ data).mkString("\n").getBytes("UTF-8"))
  }

  test("a serviced file keeping its bale name still sorts AFTER the " +
    "bales (two-segment order keys)") {
    // serviced/MainTable1.dat shares its basename with bale 1: a
    // basename-keyed order map collided (min-index-wins handed the
    // serviced rows seq 0) and the serviced re-sends would have
    // beaten every later bale in keep-first dedup
    val dir = Files.createTempDirectory("toa5svc")
    Files.createDirectory(dir.resolve("serviced"))
    writeBale(dir, 1, Seq((1, 0)))
    writeBale(dir.resolve("serviced"), 1, Seq((999, 0)))
    val out = Toa5.read(spark, Seq(
      s"$dir/MainTable1.dat", s"$dir/serviced/MainTable1.dat"))
      .select(col("RECORD"), col(Toa5.FileOrderCol))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) === 0 && out(999L) === 1,
      s"the serviced copy must carry its own later seq: $out")
  }

  test("TOA5 ingest + L1 clean: header probe, metadata-row drop, " +
    "NAN->null, all-null column drop, keep-first dedup") {
    val dir = Files.createTempDirectory("toa5")
    // bale1: rows 0..9 (records 1..10); bale2 re-sends 6..9 with NEW
    // records 100..103 (overlap -> keep-first must keep bale1's), then
    // 10..19; bale3: 20..24
    writeBale(dir, 1, (0 to 9).map(i => (i + 1, i)))
    writeBale(dir, 2, (6 to 9).map(i => (i + 94, i)) ++
      (10 to 19).map(i => (i + 91, i)))
    writeBale(dir, 3, (20 to 24).map(i => (i + 81, i)))

    val l1 = l1Frame(Seq(Level1.Source(dir.toString, 1, 3)))
    assert(l1.count() === 25) // 25 unique timestamps
    assert(!l1.columns.contains("AllNan"), "all-NAN column must drop")
    val first = l1.orderBy("TIMESTAMP").head()
    val last = l1.orderBy(col("TIMESTAMP").desc).head()
    assert(first.getAs[java.sql.Timestamp]("TIMESTAMP").toString
      .startsWith("2021-04-30 18:00"))
    assert(last.getAs[Long]("RECORD") === 105L)
    // keep-first: ts index 6 appeared in bale1 (record 7) and bale2
    // (record 100) — bale1 wins
    val dup = l1.where(col("TIMESTAMP") === lit(ts(6))).head()
    assert(dup.getAs[Long]("RECORD") === 7L)
    // typed columns
    assert(l1.schema("TCDT").dataType.typeName === "double")
    assert(l1.schema("TIMESTAMP").dataType.typeName === "timestamp")
  }

  test("the Level-1 product reports in/out row counts as job metrics") {
    val dir = Files.createTempDirectory("toa5o")
    writeBale(dir, 1, (0 to 9).map(i => (i + 1, i)))
    writeBale(dir, 2, (5 to 9).map(i => (i + 50, i))) // 5 dup timestamps
    val rows = Level1.product(spark,
      Seq(Level1.Source(dir.toString, 1, 2))).counts
    assert(rows.in === 15L)
    assert(rows.out === 10L)
  }

  test("exact duplicate rows collapse in the keep-first dedup alone") {
    // Level-1 has no full-row dedup shuffle: an exact re-logged row
    // (RECORD included) shares its timestamp with its twin, so
    // keep-first per timestamp leaves one of two identical rows
    val dir = Files.createTempDirectory("toa5d")
    writeBale(dir, 1, Seq((1, 0), (2, 1), (2, 1), (3, 2), (4, 3)))
    // bale 2 overlaps ts 2..3 (bale 1 wins) and repeats its own ts 4 row
    writeBale(dir, 2, Seq((60, 2), (61, 3), (62, 4), (62, 4), (63, 5)))
    val (counts, rows) = {
      val p = Level1.product(spark, Seq(Level1.Source(dir.toString, 1, 2)))
      (p.counts, frameOf(p.schema, p.rows).orderBy("TIMESTAMP").collect())
    }
    assert(counts.in === 10L)
    assert(counts.out === 6L)
    assert(rows.map(_.getAs[java.sql.Timestamp]("TIMESTAMP").toString
      .take(16)).toSeq === (0 to 5).map(ts))
    assert(rows.map(_.getAs[Long]("RECORD")).toSeq ===
      Seq(1L, 2L, 3L, 4L, 62L, 63L))
  }

  test("typed scan under ANSI: a cell that does not parse reads as " +
    "null and its row is kept; the header rows drop") {
    val dir = Files.createTempDirectory("toa5t")
    val header = Seq(
      """"TOA5","99999","CR800","99999","CR800.Std.32.03","CPU:test.CR8","1","MainTable"""",
      """"TIMESTAMP","RECORD","BattV_Min","T107_C","TCDT"""",
      """"TS","RN","Volts","Deg C","m"""",
      """"","","Min","Smp","Smp"""")
    Files.write(dir.resolve("MainTable1.dat"), (header ++ Seq(
      s""""${ts(0)}",1,12.5,-5.0,2.0""",
      s""""${ts(1)}",2,volts,-5.1,2.1""", // non-numeric double cell
      s""""${ts(2)}",3,12.7,,2.2""", // empty cell
      s""""${ts(3)}",4,12.8,-5.3,NAN""", // the NAN sentinel
      s""""${ts(4)}",4.5,12.9,-5.4,2.4""", // non-integer RECORD
      s""""${ts(5)}",6,INF,-INF,Infinity""") // the logger's overrange cells
    ).mkString("\n").getBytes("UTF-8"))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val rows = Toa5.read(spark, Toa5.balePaths(dir.toString, 1, 1))
        .orderBy("TIMESTAMP").collect()
      assert(rows.length === 6, rows.mkString("\n"))
      def cell(i: Int, c: String): Option[Any] =
        Option(rows(i).getAs[Any](c))
      assert(rows.map(r => r.getAs[java.sql.Timestamp]("TIMESTAMP")
        .toString.take(16)).toSeq === (0 to 5).map(ts))
      assert(cell(1, "BattV_Min") === None && cell(1, "T107_C") === Some(-5.1))
      assert(cell(2, "T107_C") === None && cell(2, "BattV_Min") === Some(12.7))
      assert(cell(3, "TCDT") === None && cell(3, "RECORD") === Some(4L))
      assert(cell(4, "RECORD") === None && cell(4, "TCDT") === Some(2.4))
      assert(cell(0, "RECORD") === Some(1L) && cell(0, "TCDT") === Some(2.0))
      assert(cell(5, "BattV_Min") === Some(Double.PositiveInfinity) &&
        cell(5, "T107_C") === Some(Double.NegativeInfinity) &&
        cell(5, "TCDT") === Some(Double.PositiveInfinity))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("all-null probe runs before keep-first: a column filled only in " +
    "rows that lose keep-first is kept") {
    val dir = Files.createTempDirectory("toa5p")
    writeBale(dir, 1, (0 to 5).map(i => (i + 1, i)))
    // bale 2 re-sends ts 4..5 with AllNan filled: those rows lose
    writeBale(dir, 2, Seq((50, 4), (51, 5)))
    val b2 = dir.resolve("MainTable2.dat")
    Files.writeString(b2, Files.readString(b2).replace(",NAN", ",7.5"))
    val (cols, rows) = {
      val l1 = l1Frame(Seq(Level1.Source(dir.toString, 1, 2)))
      (l1.columns.toSeq, l1.orderBy("TIMESTAMP").collect())
    }
    assert(cols.contains("AllNan"))
    assert(rows.map(_.getAs[Long]("RECORD")).toSeq === (1L to 6L).toSeq)
    assert(rows.forall(_.isNullAt(cols.indexOf("AllNan"))))
  }

  test("a column only a later source has: the all-null drop and the " +
    "values follow each column, not its position") {
    def bale(dir: Path, cols: Seq[String],
             rows: Seq[(Int, Seq[String])]): Unit = Files.write(
      dir.resolve("MainTable1.dat"), (Seq(
        """"TOA5","99999","CR800","99999","CR800.Std.32.03","CPU:test.CR8","1","MainTable"""",
        cols.map(c => s""""$c"""").mkString(","),
        cols.map(_ => "\"\"").mkString(","),
        cols.map(_ => "\"\"").mkString(",")) ++ rows.map { case (i, vs) =>
        (s""""${ts(i)}",${i + 1}""" +: vs).mkString(",") })
        .mkString("\n").getBytes("UTF-8"))
    val a = Files.createTempDirectory("toa5a")
    val b = Files.createTempDirectory("toa5b")
    bale(a, Seq("TIMESTAMP", "RECORD", "T107_C"),
      (0 to 2).map(i => i -> Seq(s"-${i + 1}.0")))
    // the later logger program adds an empty Y and a filled Z; the
    // union puts both after the file order column
    bale(b, Seq("TIMESTAMP", "RECORD", "T107_C", "Y", "Z"),
      (3 to 4).map(i => i -> Seq(s"-${i + 1}.0", "NAN", s"$i.5")))
    val (cols, rows) = {
      val l1 = l1Frame(Seq(
        Level1.Source(a.toString, 1, 1), Level1.Source(b.toString, 1, 1)))
      (l1.columns.toSeq, l1.orderBy("TIMESTAMP").collect())
    }
    assert(cols === Seq("TIMESTAMP", "RECORD", "T107_C", "Z"))
    assert(rows.map(r => Option(r.getAs[Any]("Z"))).toSeq ===
      Seq(None, None, None, Some(3.5), Some(4.5)))
    assert(rows.map(_.getAs[Double]("T107_C")).toSeq ===
      Seq(-1.0, -2.0, -3.0, -4.0, -5.0))
  }

  test("an all-NAN RECORD column: keep-first falls back to file order, " +
    "and the column drops") {
    val dir = Files.createTempDirectory("toa5r")
    def bale(n: Int, rows: Seq[(Int, Double)]): Unit = Files.write(
      dir.resolve(s"MainTable$n.dat"), (Seq(
        """"TOA5","99999","CR800","99999","CR800.Std.32.03","CPU:test.CR8","1","MainTable"""",
        """"TIMESTAMP","RECORD","T107_C"""",
        """"TS","RN","Deg C"""",
        """"","","Smp"""") ++ rows.map { case (i, v) =>
        s""""${ts(i)}",NAN,$v""" }).mkString("\n").getBytes("UTF-8"))
    bale(1, (0 to 3).map(i => (i, -1.0)))
    bale(2, (2 to 5).map(i => (i, -2.0))) // ts 2..3 lose to bale 1
    bale(3, (5 to 6).map(i => (i, -3.0))) // ts 5 loses to bale 2
    val (cols, rows) = {
      val l1 = l1Frame(Seq(Level1.Source(dir.toString, 1, 3)))
      (l1.columns.toSeq, l1.orderBy("TIMESTAMP").collect())
    }
    assert(!cols.contains("RECORD"))
    assert(rows.map(_.getAs[Double]("T107_C")).toSeq ===
      Seq(-1.0, -1.0, -1.0, -1.0, -2.0, -2.0, -3.0))
  }

  test("serviced glob appends iff exactly one match, after the bales") {
    val dir = Files.createTempDirectory("toa5s")
    writeBale(dir, 1, (0 to 9).map(i => (i + 1, i)))
    val sv = Files.createDirectory(dir.resolve("serviced"))
    // serviced re-sends ts 8..9 (keep-first: bale wins) + new 10..14
    val svDir = Files.createTempDirectory("toa5sv")
    writeBale(svDir, 9, (8 to 14).map(i => (i + 200, i)))
    Files.move(svDir.resolve("MainTable9.dat"),
      sv.resolve("x_MainTable_sv.dat"))

    val l1 = l1Frame(Seq(Level1.Source(dir.toString, 1, 1, serviced = true)))
    assert(l1.count() === 15)
    // ts 8 came from the bale (record 9), not the serviced re-send (208)
    val r8 = l1.where(col("TIMESTAMP") === lit(ts(8))).head()
    assert(r8.getAs[Long]("RECORD") === 9L)

    // two matches -> no append
    Files.writeString(sv.resolve("y_MainTable_2.dat"), "junk")
    val l1b = l1Frame(Seq(Level1.Source(dir.toString, 1, 1, serviced = true)))
    assert(l1b.count() === 10)
  }

  test("UDG filter is key-isolated across stations") {
    import graft.ops.Udg
    val rows = (0 until 192).flatMap { i =>
      val t = new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2021-05-01 00:00:00").getTime
          + i * 900000L)
      Seq(("st1", t, if (i == 100) 12.0 else 2.0, 170.0),
        ("st2", t, 5.0, 170.0)) // different level; no spikes
    }
    import spark.implicits._
    val df = rows.toDF("station", "ts", "udg", "q")
    val out = Udg.filter(df, "udg", "q", "ts", keyCols = Seq("station"))
      .cache()
    // st1's spike masked; st2 untouched (no cross-station leakage)
    assert(out.where($"station" === "st2" && $"udg" =!= 5.0).count() === 0)
    assert(out.where($"station" === "st2" && $"udg".isNull).count() === 0)
    val spikeTs = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2021-05-01 00:00:00").getTime
        + 100 * 900000L)
    val sp = out.where($"station" === "st1" && $"ts" === lit(spikeTs)).head()
    assert(sp.isNullAt(sp.fieldIndex("udg")))
  }

  test("UDG filter infers each station's own cadence") {
    import graft.ops.Udg
    import spark.implicits._
    // st1 logs every 15 min (the mode over both stations), st2 every
    // 10 min: on a 15-min grid only every third st2 sample lands
    val t0 = java.sql.Timestamp.valueOf("2021-05-01 00:00:00").getTime
    def at(i: Int, stepMin: Int) = new java.sql.Timestamp(t0 + i * stepMin * 60000L)
    val st1 = (0 until 200).map(i => ("st1", at(i, 15), 2.0, 170.0))
    val st2 = (0 until 150).map(i =>
      ("st2", at(i, 10), if (i == 70) 9.0 else 3.0, 170.0))
    val out = Udg.filter((st1 ++ st2).toDF("station", "ts", "udg", "q"),
      "udg", "q", "ts", keyCols = Seq("station"))
      .where($"station" === "st2").orderBy("ts").collect()
      .map(r => Option(r.getAs[java.lang.Double]("udg")).map(_.doubleValue))
    assert(out.length === 150)
    out.zipWithIndex.foreach { case (v, i) =>
      if (i == 70) assert(v === None, "the st2 spike must be masked")
      else assert(v === Some(3.0), s"st2 sample $i lost")
    }
  }

  test("file order holds across 100 bales (broadcast order map)") {
    val dir = Files.createTempDirectory("toa5m")
    // every bale re-sends timestamp 0 with a record equal to its bale
    // number — keep-first must pick bale 1's record across all 100
    (1 to 100).foreach(n => writeBale(dir, n, Seq((n, 0), (1000 + n, n))))
    val l1 = l1Frame(Seq(Level1.Source(dir.toString, 1, 100)))
    assert(l1.count() === 101) // ts 0 + unique ts 1..100
    assert(l1.where(col("TIMESTAMP") === lit(ts(0))).head()
      .getAs[Long]("RECORD") === 1L)
    // and the raw read tags files 0..99 in caller order, not glob order
    val raw = Toa5.read(spark, Toa5.balePaths(dir.toString, 1, 100))
    val seqs = raw.select(Toa5.FileOrderCol).distinct().count()
    assert(seqs === 100)
  }

  test("onefile source reads a single named file") {
    val dir = Files.createTempDirectory("toa5one")
    writeBale(dir, 7, (0 to 9).map(i => (i + 1, i)))
    Files.move(dir.resolve("MainTable7.dat"), dir.resolve("single.dat"))
    val l1 = l1Frame(Seq(Level1.Source.onefile(dir.toString, "single.dat")))
    assert(l1.count() === 10)
    assert(l1.schema("TIMESTAMP").dataType.typeName === "timestamp")
  }

  test("nrows cap applies per source") {
    val dir = Files.createTempDirectory("toa5b")
    writeBale(dir, 1, (0 to 9).map(i => (i + 1, i)))
    val df = Toa5.read(spark,
      Toa5.balePaths(dir.toString, 1, 1), nrows = Some(5))
    assert(df.count() === 5)
  }
}
