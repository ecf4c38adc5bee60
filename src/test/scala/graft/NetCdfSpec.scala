package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.pipeline.Collect
import graft.sink.NetCdf
import graft.sink.NetCdf.{Att, Dim, Dataset => NcDataset, Var => NcVar}

/** Round-trips the pure-Scala NetCDF classic writer through an
  * INDEPENDENTLY implemented reader (`NcReader` parses bytes straight
  * off the Unidata classic-format spec — it shares no code with the
  * writer), plus structural golden assertions on the raw bytes. */
class NetCdfSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  /** `NetCdf.writeWide` over `df`'s rows, collected in time order. */
  private def writeWide(path: String, df: DataFrame, timeCol: String,
                        globalAtts: Seq[Att] = Nil,
                        varAtts: Map[String, Seq[Att]] = Map.empty,
                        fixedPointCols: Seq[String] = Nil): Unit =
    NetCdf.writeWide(conf, path, df.schema,
      Collect.rows(df.orderBy(timeCol)), timeCol, globalAtts,
      varAtts, fixedPointCols)

  test("netcdf: level2-shaped dataset round-trips byte-exactly") {
    // the reference's export shape: time coordinate, a (time × sensor)
    // family matrix, a per-sensor install-depth aux coordinate, an
    // int quality series, CF attrs at both levels
    val path = Files.createTempDirectory("nc").toString + "/l2.nc"
    val dtc = Array(1.5, 2.5, -3.25, 4.0, 0.0, -1.0)
    val ds = NcDataset(
      dims = Seq(Dim("time", 3), Dim("dtc1_sensor", 2)),
      atts = Seq(Att("title", "fs level-2"), Att("timezone", "UTC")),
      vars = Seq(
        NcVar("time", Seq(0),
          Seq(Att("units", "seconds since 1970-01-01 00:00:00")),
          NetCdf.NcDouble, Array(0.0, 900.0, 1800.0)),
        NcVar("DTC1", Seq(0, 1),
          Seq(Att("units", "degrees_C"),
            Att("standard_name", "temperature_in_firn")),
          NetCdf.NcDouble, dtc),
        NcVar("dtc1_install_depth", Seq(1), Seq(Att("units", "m")),
          NetCdf.NcFloat, Array(-0.5, -1.5)),
        NcVar("Q", Seq(0), Nil, NetCdf.NcInt, Array(1, 2, 3))))
    NetCdf.write(conf, path, ds)
    val r = NcReader.read(path)
    assert(r.numrecs === 0)
    assert(r.dims === Seq(("time", 3), ("dtc1_sensor", 2)))
    assert(r.atts === Map("title" -> "fs level-2", "timezone" -> "UTC"))
    assert(r.vars.map(_.name) === Seq("time", "DTC1",
      "dtc1_install_depth", "Q"))
    val vDtc = r.vars(1)
    assert(vDtc.dimIds === Seq(0, 1))
    assert(vDtc.atts("standard_name") === "temperature_in_firn")
    assert(r.data(vDtc).toSeq === dtc.toSeq) // doubles: bit-exact
    assert(r.data(r.vars(2)).toSeq === Seq(-0.5, -1.5)) // exact in f32
    assert(r.data(r.vars(3)).toSeq === Seq(1.0, 2.0, 3.0))
    // structural golden facts: first var's data begins exactly where
    // the header ends, offsets are contiguous (+vsize), and the file
    // ends at the last offset + last vsize
    val first = r.vars.head
    assert(r.vars.sliding(2).forall { case Seq(x, y) =>
      y.begin == x.begin + x.vsize })
    assert(r.bytes.length === r.vars.last.begin + r.vars.last.vsize)
    assert(first.vsize === 3 * 8)
    // odd-length names/attrs exercised padding above (e.g. "Q", "m")
  }

  test("netcdf: writeWide exports a wide DataFrame with CF attrs") {
    import spark.implicits._
    val path = Files.createTempDirectory("nc").toString + "/wide.nc"
    val df = Seq(
      (new java.sql.Timestamp(0L), Some(1.25), 10L),
      (new java.sql.Timestamp(900000L), None, 20L),
      (new java.sql.Timestamp(1800000L), Some(-2.5), 30L))
      .toDF("ts", "udg", "rec")
    writeWide(path, df, "ts",
      globalAtts = Seq(Att("site", "fs1")),
      varAtts = Map("udg" -> Seq(Att("units", "m"))))
    val r = NcReader.read(path)
    assert(r.dims === Seq(("ts", 3)))
    assert(r.atts("site") === "fs1")
    val byName = r.vars.map(v => v.name -> v).toMap
    assert(r.data(byName("ts")).toSeq === Seq(0.0, 900.0, 1800.0))
    val udg = r.data(byName("udg"))
    assert(udg(0) === 1.25 && udg(2) === -2.5 && udg(1).isNaN)
    assert(byName("udg").atts("units") === "m")
    assert(r.data(byName("rec")).toSeq === Seq(10.0, 20.0, 30.0))
  }

  test("netcdf: decimal columns export; out-of-range values fail loud") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dir = Files.createTempDirectory("nc").toString
    // DecimalType is the engine's own S8 fixed-point shape — it must
    // export as a variable, not be silently dropped
    val df = Seq(
      (new java.sql.Timestamp(0L), BigDecimal("1.250")),
      (new java.sql.Timestamp(900000L), BigDecimal("-2.125")))
      .toDF("ts", "dec").withColumn("dec",
        col("dec").cast("decimal(12,3)"))
    writeWide(dir + "/dec.nc", df, "ts")
    val r = NcReader.read(dir + "/dec.nc")
    assert(r.vars.map(_.name) === Seq("ts", "dec"))
    assert(r.data(r.vars(1)).toSeq === Seq(1.25, -2.125))
    // int32 fixed-point overflow: |v*1000| > Int.MaxValue must throw,
    // not wrap into a corrupt decoded value
    val big = Seq((new java.sql.Timestamp(0L), 3.0e6))
      .toDF("ts", "v")
    val e1 = intercept[IllegalArgumentException] {
      writeWide(dir + "/of.nc", big, "ts",
        fixedPointCols = Seq("v"))
    }
    assert(e1.getMessage.contains("int32 fixed-point range"))
    // long beyond 2^53 is not exact in NC_DOUBLE — reject
    val bigLong = Seq((new java.sql.Timestamp(0L), (1L << 53) + 1L))
      .toDF("ts", "n")
    val e2 = intercept[IllegalArgumentException] {
      writeWide(dir + "/lg.nc", bigLong, "ts")
    }
    assert(e2.getMessage.contains("not exact in NC_DOUBLE"))
    // decimal with >15 significant digits would silently lose digits
    // through the double — reject like the long case
    val bigDec = Seq((new java.sql.Timestamp(0L),
      BigDecimal("1234567.1234567891")))
      .toDF("ts", "d").withColumn("d", col("d").cast("decimal(20,10)"))
    val e3 = intercept[IllegalArgumentException] {
      writeWide(dir + "/bd.nc", bigDec, "ts")
    }
    assert(e3.getMessage.contains("not exact in NC_DOUBLE"))
    // string columns are skipped (not representable), never fatal
    val mixed = df.withColumn("label", expr("'x'"))
    writeWide(dir + "/mix.nc", mixed, "ts")
    assert(NcReader.read(dir + "/mix.nc").vars.map(_.name) === Seq("ts", "dec"))
  }

  test("netcdf: fixed-point int32 encoding matches the reference's") {
    // fs_process_l2.py:196-200 — int32, scale_factor=0.001,
    // _FillValue=-9999; a CF reader reconstructs v = int * scale
    import spark.implicits._
    val path = Files.createTempDirectory("nc").toString + "/enc.nc"
    val df = Seq(
      (new java.sql.Timestamp(0L), Some(1.2345)),
      (new java.sql.Timestamp(900000L), None),
      (new java.sql.Timestamp(1800000L), Some(-2.5)))
      .toDF("ts", "udg")
    writeWide(path, df, "ts",
      varAtts = Map("udg" -> Seq(Att("units", "m"))),
      fixedPointCols = Seq("udg"))
    val r = NcReader.read(path)
    val udg = r.vars.map(v => v.name -> v).toMap.apply("udg")
    assert(udg.ncType === NetCdf.NcInt)
    assert(udg.atts("scale_factor") === 0.001)
    assert(udg.atts("_FillValue") === -9999)
    assert(udg.atts("units") === "m")
    // stored as rounded int32; decode = v * scale_factor. 1.2345*1000
    // is EXACTLY 1234.5 in doubles: half-even (the reference's
    // np.around) gives 1234 — math.round's half-up 1235 would diverge
    assert(r.data(udg).toSeq === Seq(1234.0, -9999.0, -2500.0))
    // a real value of exactly -9.999 would encode to the _FillValue
    // sentinel and silently decode as missing — must fail loud
    val collide = Seq((new java.sql.Timestamp(0L), -9.999))
      .toDF("ts", "udg")
    val e = intercept[IllegalArgumentException] {
      writeWide(path + ".c", collide, "ts",
        fixedPointCols = Seq("udg"))
    }
    assert(e.getMessage.contains("_FillValue"))
  }

  test("netcdf: writeWide writes collected rows with no Spark job, and " +
    "refuses rows out of time order before it opens the file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("nc")
    val df = Seq((new java.sql.Timestamp(900000L), 2.0),
      (new java.sql.Timestamp(0L), 1.0)).toDF("ts", "v")
    val sorted = Collect.rows(df.orderBy("ts"))
    val path = dir.resolve("rows.nc").toString
    assert(jobsDuring(NetCdf.writeWide(conf, path, df.schema, sorted,
      "ts")) === 0)
    assert(NcReader.read(path).atts.isEmpty)
    val e = intercept[IllegalArgumentException] {
      NetCdf.writeWide(conf, dir.resolve("unsorted.nc").toString,
        df.schema, sorted.reverse, "ts")
    }
    assert(e.getMessage.contains("not in time order"))
    // nothing of the refused file, not even its hidden temporary
    assert(Files.list(dir).toArray.map(_.toString.split('/').last)
      .filterNot(_.endsWith(".crc")).toSeq === Seq("rows.nc"))
  }
}
