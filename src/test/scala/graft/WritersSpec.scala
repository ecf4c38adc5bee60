package graft

import java.nio.file.Files

import graft.pipeline.Collect
import graft.sink.Writers

/** S8/S9 — Parquet+sidecar sink and time-sliced scan with partition
  * pruning (the NetCDF replacement's scale property). */
class WritersSpec extends SparkSpec {

  import spark.implicits._

  test("parquetWithAttrs: sidecar, fixed-point encoding, partition pruning") {
    val out = Files.createTempDirectory("l2out").resolve("ds").toString
    val df = (0 until 240).map { i =>
      val ts = new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2021-04-01 00:00:00").getTime
          + i.toLong * 3600000L)
      (ts, i % 12, -0.123456 * (i % 7), i / 24 + 1)
    }.toDF("time", "sensor", "value", "day")
    Writers.parquetWithAttrs(df, out,
      attrs = Map("site" -> "FS1", "units" -> "m"),
      partitionBy = Seq("day"),
      fixedPointCols = Seq("value"))

    // sidecar
    val attrs = Files.readString(java.nio.file.Paths.get(out, "_attrs.json"))
    assert(attrs.contains("\"site\": \"FS1\""))
    // fixed-point: int32, value*1000
    val back = spark.read.parquet(out)
    assert(back.schema("value").dataType.typeName === "integer")
    val v = back.where($"sensor" === 1 && $"day" === 1)
      .select("value").head().getInt(0)
    assert(v === -123) // round(-0.123456*1000)
    // partition pruning: day filter shows up as a PartitionFilter, and
    // only that partition's files are read
    val sliced = back.where($"day" === 3)
    val scan = sliced.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") &&
      scan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      s"expected day in PartitionFilters:\n$scan")
    assert(sliced.count() === 24)
  }

  test("attrs with control characters round-trip; NaN encodes as the " +
    "fill value") {
    val out = Files.createTempDirectory("l2esc").resolve("ds").toString
    val df = Seq((1, 0.5), (2, Double.NaN), (3, 0.25))
      .toDF("sensor", "value")
    Writers.parquetWithAttrs(df, out,
      // newline/tab/control char in the VALUE: the reader used to
      // strip the backslash but keep the letter ("line1nline2")
      attrs = Map("comment" -> "line1\nline2\ttabend"),
      fixedPointCols = Seq("value"))
    val (g, _) = Writers.readAttrs(out)
    assert(g("comment") === "line1\nline2\ttabend")
    // NaN is the other missing-value spelling (xarray decodes the
    // fill to NaN): it must encode as -9999, not throw (ANSI) or
    // silently read as a real 0.000 (non-ANSI)
    val back = spark.read.parquet(out)
      .orderBy("sensor").select("value").collect().map(_.getInt(0))
    assert(back.toSeq === Seq(500, -9999, 250))
  }

  test("parquetWithAttrs: per-variable attrs round-trip in the sidecar") {
    val out = Files.createTempDirectory("l2var").resolve("ds").toString
    val df = Seq((1, 0.5, -1.0)).toDF("sensor", "T_10cm", "depth")
    val varAttrs = Map(
      "T_10cm" -> Map("units" -> "degC",
        "standard_name" -> "soil_temperature"),
      "depth" -> Map("units" -> "m", "positive" -> "up"))
    Writers.parquetWithAttrs(df, out,
      attrs = Map("site" -> "FS1", "Conventions" -> "CF-1.8"),
      varAttrs = varAttrs)
    val (global, vars) = Writers.readAttrs(out)
    assert(global === Map("site" -> "FS1", "Conventions" -> "CF-1.8"))
    assert(vars === varAttrs)
    // global-only sidecars (no __variables key) still parse
    val out2 = Files.createTempDirectory("l2var").resolve("ds2").toString
    Writers.parquetWithAttrs(df, out2, attrs = Map("site" -> "FS2"))
    val (g2, v2) = Writers.readAttrs(out2)
    assert(g2 === Map("site" -> "FS2") && v2.isEmpty)
  }

  /** The bytes of the one `part-*.csv` file under the CSV directory `dir`. */
  private def csvPart(dir: String): Seq[Byte] = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(parts.length === 1, parts.toSeq)
    Files.readAllBytes(parts.head.toPath).toSeq
  }

  test("csvSingle writes the bytes Spark's own single-file CSV writer " +
    "writes") {
    import org.apache.spark.sql.functions.col
    val t0 = java.sql.Timestamp.valueOf("2021-04-30 00:00:00").getTime
    def at(ms: Long, nanos: Int) = {
      val t = new java.sql.Timestamp(t0 + ms); t.setNanos(nanos); t
    }
    // null, NaN, ±Infinity, sub-second timestamps, text that needs quotes
    val df = Seq(
      (at(0, 0), Some(1.5), Some(1L), "a"),
      (at(1000, 123000), None, None, "b,c"),
      (at(2000, 500000000), Some(Double.NaN), Some(-3L), "say \"hi\""),
      (at(3000, 999999000), Some(Double.PositiveInfinity), Some(0L), ""),
      (at(-86400000L, 1000), Some(Double.NegativeInfinity), Some(7L), null))
      .toDF("ts", "v", "n", "s")
    val root = Files.createTempDirectory("csvbytes")
    Seq("rows" -> df, "empty" -> df.where(col("n") > 100)).foreach {
      case (name, frame) =>
        val spark1 = root.resolve(s"$name-spark").toString
        val ours = root.resolve(s"$name-ours").toString
        frame.coalesce(1).write.option("header", "true").csv(spark1)
        Writers.csvSingle(spark, frame.schema, Collect.rows(frame), ours)
        assert(new String(csvPart(ours).toArray, "UTF-8") ===
          new String(csvPart(spark1).toArray, "UTF-8"), name)
        assert(csvPart(ours) === csvPart(spark1), name)
        assert(new java.io.File(ours, "_SUCCESS").isFile, name)
    }
  }

  test("csvSingle replaces the product, with _SUCCESS last; a write " +
    "that fails leaves neither a part file nor its temporary") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val out = Files.createTempDirectory("csvcommit").resolve("out.csv")
    val df = Seq((1, 2.5), (2, 3.5)).toDF("k", "v")
    val rows = Collect.rows(df.orderBy("k"))
    Writers.csvSingle(spark, df.schema, rows, out.toString)
    // an overwrite replaces the old product; nothing else is left
    Writers.csvSingle(spark, df.schema, rows.take(1), out.toString)
    def visible = out.toFile.list().filterNot(_.endsWith(".crc")).sorted.toSeq
    assert(visible === Seq("_SUCCESS", "part-00000.csv"))
    assert(new String(csvPart(out.toString).toArray, "UTF-8") ===
      "k,v\n1,2.5\n")
    // a row that fails as the generator reads it
    val bad = new GenericInternalRow(Array[Any](3, 4.5)) {
      override def isNullAt(i: Int): Boolean =
        throw new IllegalStateException("unreadable row")
    }
    intercept[IllegalStateException] {
      Writers.csvSingle(spark, df.schema, rows :+ bad, out.toString)
    }
    assert(visible === Nil)
    assert(out.toFile.list().filter(_.contains("part-")).isEmpty)
  }
}
