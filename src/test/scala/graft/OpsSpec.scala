package graft

import org.apache.spark.sql.functions._

import graft.config.Toml
import graft.ops._
import graft.queries.Shared

/** Unit specs for the composable ops: windows, rename, piecewise, toml,
  * text/dedup primitives. */
class OpsSpec extends SparkSpec {

  import spark.implicits._

  private def t(h: Int) = java.sql.Timestamp.valueOf(f"2021-05-01 $h%02d:00:00")

  test("ffillLimited fills at most `limit` consecutive nulls") {
    val df = (0 to 7).map { i =>
      (t(i), if (i >= 1 && i <= 5) None else Some(1.0 * i))
    }.toDF("ts", "v")
    val out = Windows.ffillLimited(df, "v", "ts", Nil, limit = 3)
      .orderBy("ts").collect().map(r =>
        if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq
    // i=0 value 0.0; nulls at 1..5: fill 3 (1,2,3), leave 4,5 null
    assert(out === Seq(Some(0.0), Some(0.0), Some(0.0), Some(0.0),
      None, None, Some(6.0), Some(7.0)))
  }

  test("interpolateLinear fills interior gaps on the time axis") {
    val df = Seq((t(0), Some(1.0)), (t(1), None), (t(2), None),
      (t(3), Some(4.0)), (t(4), None)).toDF("ts", "v")
    val out = Windows.interpolateLinear(df, "v", "ts", Nil)
      .orderBy("ts").collect().map(_.getDouble(1)).toSeq
    assert(out === Seq(1.0, 2.0, 3.0, 4.0, 4.0)) // trailing carries last
  }

  test("modalIntervalSec infers the dominant cadence") {
    val us = Seq(0, 15, 30, 45, 60, 90, 105).map(_ * 60000000L).toArray
    assert(Udg.modalIntervalSec(us) === 900L)
    // a tie breaks toward the smaller gap
    assert(Udg.modalIntervalSec(Array(0L, 10L, 30L, 40L, 60L)
      .map(_ * 1000000L)) === 10L)
    val one = intercept[IllegalArgumentException] {
      Udg.modalIntervalSec(Array(0L))
    }
    assert(one.getMessage.contains("fewer than 2 rows"))
    val sub = intercept[IllegalArgumentException] {
      Udg.modalIntervalSec(Array(0L, 500000L, 1000000L))
    }
    assert(sub.getMessage.contains("second-granular"))
  }

  test("regexRenameMap expands sensor families") {
    val map = Reshape.regexRenameMap(
      Seq("DTC1(1)", "DTC1(12)", "TDR1_VWC", "TCDT", "RECORD"),
      Seq(
        ("""DTC1\(([0-9]+)\)""", "DTC1_*(C)"),
        ("""(TDR[0-9]+_VWC)""", "*(m3/m3)"),
        ("""TCDT""", "TCDT(m)")))
    assert(map("DTC1(1)") === "DTC1_1(C)")
    assert(map("DTC1(12)") === "DTC1_12(C)")
    assert(map("TDR1_VWC") === "TDR1_VWC(m3/m3)")
    assert(map("TCDT") === "TCDT(m)")
    assert(!map.contains("RECORD"))
  }

  test("piecewiseOffset accumulates and latest change wins") {
    val df = Seq(t(0), t(6), t(12)).map(Tuple1(_)).toDF("ts")
    val off = Joins.piecewiseOffset($"ts",
      Seq(t(6) -> 0.5, t(12) -> 0.25))
    val out = df.select(off).collect().map(_.getDouble(0)).toSeq
    assert(out === Seq(0.0, 0.5, 0.75))
  }

  test("asOfJoin attaches the most recent right value at-or-before") {
    val left = Seq((1L, t(1)), (1L, t(3)), (2L, t(2)))
      .toDF("k", "ts")
    val right = Seq((1L, t(1), 10.0), (1L, t(2), 20.0), (2L, t(3), 30.0))
      .toDF("k", "ts", "v")
    val out = Joins.asOfJoin(left, right, Seq("k"), "ts", Seq("v"))
      .orderBy("k", "ts").collect()
      .map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq
    // (1,t1) matches right t1 (<=); (1,t3) -> t2's 20; (2,t2) -> none
    assert(out === Seq(Some(10.0), Some(20.0), None))
  }

  test("TOML subset: sections, dotted keys, arrays, dates") {
    val cfg = Toml.parse(
      """site = 'FS1' # comment
        |lat = 66.18
        |[level1_2]
        |remove_columns = ["RECORD", "DT"]
        |udg_height_change = [[2021-04-30, 2.06], [2021-05-02T22:00:00]]
        |tdr_info.1 = [2021-04-30, -0.48, false]
        |""".stripMargin)
    assert(Toml.str(cfg, "site") === "FS1")
    assert(Toml.dbl(cfg, "lat") === 66.18)
    assert(cfg("level1_2.remove_columns") === List("RECORD", "DT"))
    val hc = cfg("level1_2.udg_height_change").asInstanceOf[List[Any]]
    assert(hc.head.asInstanceOf[List[Any]](1) === 2.06)
    assert(hc(1).asInstanceOf[List[Any]].head ===
      java.sql.Timestamp.valueOf("2021-05-02 22:00:00"))
    val tdr = cfg("level1_2.tdr_info.1").asInstanceOf[List[Any]]
    assert(tdr(2) === false)
  }

  test("S4/S5 — single-file CSV sink round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("csv").toString + "/l1"
    val df = Seq((t(0), 1.5), (t(1), 2.5)).toDF("ts", "v")
    graft.sink.Writers.csvSingle(spark, df.schema,
      graft.pipeline.Collect.rows(df.orderBy("ts")), dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(files.length === 1, "level-1 product is ONE continuous csv")
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(dir)
    assert(back.count() === 2)
    assert(back.orderBy("ts").head().getDouble(1) === 1.5)
  }

  test("W5+W4+C7 — surface-location pipeline (interpolate → rolling " +
    "mean → negate)") {
    val df = Seq((t(0), Some(1.0)), (t(1), None), (t(2), Some(3.0)),
      (t(3), Some(5.0))).toDF("ts", "v")
    val interp = Windows.interpolateLinear(df, "v", "ts", Nil)
    val out = interp.select($"ts",
      (Windows.rollingTrailing(c => avg(c), $"v", $"ts", Nil,
        2 * 3600) * -1).as("surf"))
      .orderBy("ts").collect().map(_.getDouble(1)).toSeq
    // interp = [1,2,3,5]; trailing 2h means = [1, 1.5, 2.5, 4] negated
    assert(out === Seq(-1.0, -1.5, -2.5, -4.0))
  }

  test("jaccard and shingles") {
    val df = Seq(("a b c d", "b c d e")).toDF("x", "y")
    val j = df.select(TextOps.jaccard(
      TextOps.shingleSet($"x", 2), TextOps.shingleSet($"y", 2)))
      .head().getDouble(0)
    // x 2-grams {ab,bc,cd}, y {bc,cd,de}: |∩|=2, |∪|=4
    assert(math.abs(j - 0.5) < 1e-9)
  }

  test("langId picks obvious languages") {
    val df = Seq(
      ("the cat and the dog of the house", "en"),
      ("le chat et les chiens de la maison", "fr"),
      ("der hund und die katze ist nicht da", "de"),
      ("el perro y la casa de que un dia", "es"),
      ("你好世界", "zh")).toDF("text", "expect")
    val wrong = df.where(TextOps.langId($"text") =!= $"expect").count()
    assert(wrong === 0)
  }

  test("lookupWithFallback fills missing keys with dim means") {
    val dim = Seq(("a", 2.0, 1.0), ("b", 4.0, 3.0)).toDF("k", "m", "c")
    val out = Joins.lookupWithFallback(
      Seq("a", "z").toDF("k"), dim, "k", Seq("m", "c"))
      .orderBy("k").collect()
    assert(out(0).getDouble(1) === 2.0)
    assert(out(1).getDouble(1) === 3.0) // mean(2,4)
    assert(out(1).getDouble(2) === 2.0) // mean(1,3)
  }

  test("lookupWithFallback degrades to NaN on an empty dim, like the " +
    "reference's mean of no sensors — not an NPE") {
    val dim = Seq.empty[(String, Double)].toDF("k", "m")
    val out = Joins.lookupWithFallback(
      Seq("z").toDF("k"), dim, "k", Seq("m")).head()
    assert(out.getDouble(1).isNaN)
  }

  test("asOfJoin attaches ONE right row: no cross-row stitching, " +
    "most-recent null fields win, equal-ts ties deterministic") {
    val left = Seq((1L, t(3))).toDF("k", "ts")
    // most recent right row (t2) has a NULL b: per-column ffill would
    // stitch (a=5, b=7) — a row that never existed
    val right = Seq(
      (1L, t(1), Some(3.0), Some(7.0)),
      (1L, t(2), Some(5.0), None)).toDF("k", "ts", "a", "b")
    val r = Joins.asOfJoin(left, right, Seq("k"), "ts", Seq("a", "b"))
      .head()
    assert(r.getDouble(2) === 5.0)
    assert(r.isNullAt(3),
      "the attached row is t2's (5.0, null), never a stitched (5.0, 7.0)")
    // two right rows at the SAME (k, ts): the winner must be stable
    // across runs/partitionings (largest value struct)
    val dup = Seq((1L, t(1), 10.0), (1L, t(1), 20.0))
      .toDF("k", "ts", "v")
    val picks = (1 to 3).map { _ =>
      Joins.asOfJoin(left, dup.repartition(7), Seq("k"), "ts", Seq("v"))
        .head().getDouble(2)
    }
    assert(picks.distinct.length === 1 && picks.head === 20.0)
  }

  test("unionAll and alignOnTime reject empty input with a clear error") {
    val e = intercept[IllegalArgumentException] { Joins.unionAll(Nil) }
    assert(e.getMessage.contains("no inputs"))
    intercept[IllegalArgumentException] { Joins.alignOnTime(Nil, "ts") }
  }

  test("default valid-range expansion covers TDR<n>_<var> columns " +
    "like the reference") {
    // fs_pp.py:323-330: a TDR_VWC key expands to TDR[0-9]*_VWC — the
    // earlier family(n) default matched nothing for TDR keys and the
    // four default TDR physical ranges silently never applied
    val df = Seq((99.0, 0.5, 0.7), (0.3, 2.0, 0.9))
      .toDF("TDR1_VWC", "TDR12_VWC", "EC(1)")
    val out = graft.ops.Ranges.applyValidRanges(df,
      Map("TDR_VWC" -> (0.0, 1.0), "EC" -> (0.5, 1.0)))
      .collect()
    assert(out(0).isNullAt(0), "99.0 is outside [0,1] — must clamp")
    assert(out(0).getDouble(1) === 0.5)
    assert(out(1).getDouble(0) === 0.3)
    assert(out(1).isNullAt(1), "2.0 is outside [0,1] — must clamp")
    assert(out(0).getDouble(2) === 0.7) // EC family still covered
  }

  test("valid ranges: a column two range keys match gets both clamps") {
    // EC(1) is matched by its own name and by the EC family key; a
    // value outside either range is null, whichever key comes first
    val df = Seq((0.7, 0.7), (0.9, 0.9), (0.97, 0.97)).toDF("EC(1)", "EC(2)")
    val ranges = Seq("EC(1)" -> (0.8, 1.0), "EC" -> (0.5, 0.95))
    Seq(ranges, ranges.reverse).foreach { rs =>
      val out = graft.ops.Ranges.applyValidRanges(df, rs.toMap)
        .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
      // EC(2) gets the family clamp alone
      assert(out === Seq((None, Some(0.7)), (Some(0.9), Some(0.9)),
        (None, None)), rs)
    }
  }

  test("trainShuffle: shard width is a real knob — width 4 shards by " +
    "4 hex chars, keeps every doc exactly once, positions contiguous") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Shared.trainShuffle(docs, shardHexWidth = 4).cache()
    val n = docs.count()
    assert(out.count() == n, "shuffle must be a permutation, not a sample")
    assert(out.select("doc_id").distinct().count() == n)
    // shard = 4-char hex prefix of the width-2 shard's key space:
    // every width-4 shard must nest inside its width-2 parent
    val w2 = Shared.trainShuffle(docs, shardHexWidth = 2)
      .select(col("doc_id"), col("shard").as("s2"))
    assert(out.join(w2, "doc_id")
      .where(substring(col("shard"), 1, 2) =!= col("s2"))
      .count() == 0, "width-4 shards must refine the width-2 sharding")
    assert(out.where(length(col("shard")) =!= 4).count() == 0)
    // positions within a shard are 1..k with no gaps
    val bad = out.groupBy("shard")
      .agg(count(lit(1)).as("k"), max(col("pos")).as("mx"),
        min(col("pos")).as("mn"))
      .where(col("mx") =!= col("k") || col("mn") =!= 1L)
      .count()
    assert(bad == 0, "per-shard positions must be contiguous from 1")
    out.unpersist()
  }
}
