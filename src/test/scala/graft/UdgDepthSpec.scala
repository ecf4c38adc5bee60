package graft

import org.apache.spark.sql.functions._

import graft.ops.{Depths, Udg}

/** UDG normalise/filter (C3/P5/W3/W1/P6/J5) and the X1 depth recurrence
  * on hand-computable synthetic series. */
class UdgDepthSpec extends SparkSpec {

  import spark.implicits._

  private def t(h: Int, m: Int = 0) =
    java.sql.Timestamp.valueOf(f"2021-05-01 $h%02d:$m%02d:00")
  private def d(day: Int) =
    java.sql.Timestamp.valueOf(f"2021-05-$day%02d 00:00:00")

  test("normalise subtracts explicit height changes cumulatively") {
    val rows = (0 until 96).map { i => // 4 days, 1h cadence
      val ts = new java.sql.Timestamp(d(1).getTime + i * 3600000L)
      (ts, 2.0)
    }
    val df = rows.toDF("ts", "udg")
    val out = Udg.normalise(df, "udg", "ts", Seq(
      Udg.HeightChange(d(2), Some(0.5)),
      Udg.HeightChange(d(3), Some(0.25))))
    val byDay = out.groupBy(date_trunc("day", $"ts").as("day"))
      .agg(avg("udg").as("v")).collect()
      .map(r => r.getTimestamp(0).toString.take(10) -> r.getDouble(1))
      .toMap
    assert(byDay("2021-05-01") === 2.0)
    assert(byDay("2021-05-02") === 1.5)
    assert(math.abs(byDay("2021-05-03") - 1.25) < 1e-9)
  }

  test("normalise auto-computes a change from pre/post medians") {
    // flat 2.0 before the change instant, flat 1.4 after -> delta -0.6,
    // so post-change data shifts back up to 2.0
    val rows = (0 until 48).map { i =>
      val ts = new java.sql.Timestamp(d(1).getTime + i * 3600000L)
      (ts, if (ts.before(d(2))) 2.0 else 1.4)
    }
    val out = Udg.normalise(rows.toDF("ts", "udg"), "udg", "ts",
      Seq(Udg.HeightChange(d(2), None)))
    val avgAfter = out.where($"ts" >= lit(d(2))).agg(avg("udg")).head()
      .getDouble(0)
    assert(math.abs(avgAfter - 2.0) < 1e-6)
  }

  test("filter masks bad quality and median-deviant samples, keeps " +
    "original sample times") {
    // 15-min cadence, one bad-Q row, one 10m spike
    val rows = (0 until 192).map { i =>
      val ts = new java.sql.Timestamp(d(1).getTime + i * 900000L)
      val q = if (i == 50) 250.0 else 170.0
      val v = if (i == 100) 12.0 else 2.0
      (ts, v, q)
    }
    val out = Udg.filter(rows.toDF("ts", "udg", "q"), "udg", "q", "ts",
      keyCols = Nil).cache()
    assert(out.count() === 192) // reindexed to original instants
    val spike = out.where($"ts" === lit(new java.sql.Timestamp(
      d(1).getTime + 100 * 900000L))).head()
    assert(spike.isNullAt(spike.fieldIndex("udg")), "spike must be masked")
    val badQ = out.where($"ts" === lit(new java.sql.Timestamp(
      d(1).getTime + 50 * 900000L))).head()
    // bad Q -> masked, then ffilled from neighbors on the regular grid
    // -> value survives as 2.0 (fill), which the deviation mask keeps
    assert(badQ.getDouble(badQ.fieldIndex("udg")) === 2.0)
    val ok = out.where($"ts" === lit(t(12))).head()
    assert(ok.getDouble(ok.fieldIndex("udg")) === 2.0)
  }

  test("filterMasked on a non-nullable column masks a spike as null, " +
    "not 0.0") {
    val rows = (0 until 96).map { i => // 15-min cadence, one spike
      (new java.sql.Timestamp(d(1).getTime + i * 900000L),
        if (i == 60) 12.0 else 2.0)
    }
    val in = rows.toDF("ts", "udg")
    assert(!in.schema("udg").nullable)
    val out = Udg.filterMasked(in, "udg", "ts", keyCols = Nil)
    assert(out.schema("udg").nullable)
    val got = out.orderBy("ts").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    assert(got(60) === None, "the spike must read as null")
    assert(got.zipWithIndex.forall { case (v, i) => i == 60 || v == Some(2.0) })
  }

  test("X1 depth recurrence: min-0 clamp and melt-out ratchet") {
    val series = Seq(
      (t(0), -1.0), (t(1), -0.5), (t(2), 0.3), (t(3), -0.2))
      .toDF("ts", "udg")
    val out = Depths.tdrDepth(series, "ts", "udg",
      Seq(Depths.Install("tdr1", t(0), -1.0)))
      .orderBy("ts").collect().map(_.getDouble(2)).toSeq
    // offset starts at installDepth - udg0 = 0;
    // d = [-1.0, -0.5, min(0,0.3)->ratchet offset=-0.3, -0.2-0.3]
    assert(out === Seq(-1.0, -0.5, 0.0, -0.5))
  }

  test("X1 is per-sensor: keys do not leak state") {
    val series = Seq((t(0), -1.0), (t(1), 0.5), (t(2), -0.4))
      .toDF("ts", "udg")
    val out = Depths.tdrDepth(series, "ts", "udg", Seq(
      Depths.Install("a", t(0), -1.0),
      Depths.Install("b", t(1), -2.0)))
    val a = out.where($"sensor" === "a").orderBy("ts")
      .collect().map(_.getDouble(2)).toSeq
    val b = out.where($"sensor" === "b").orderBy("ts")
      .collect().map(_.getDouble(2)).toSeq
    // a: offset=0 -> [-1.0, min(0,0.5)=0 (ratchet -0.5), -0.9]
    assert(a === Seq(-1.0, 0.0, -0.9))
    // b installs at t1: offset=-2.0-0.5=-2.5 -> [-2.0, -2.9]
    assert(b === Seq(-2.0, -2.9))
  }

  test("tdrDepth rejects duplicate installs of one sensor loudly") {
    // two installs of one sensor would cross-join duplicate
    // (sensor, ts) rows interleaving nondeterministically through
    // the shared recurrence state — model a re-install as a new
    // sensor name instead
    val series = Seq((t(0), -1.0)).toDF("ts", "udg")
    val e = intercept[IllegalArgumentException] {
      Depths.tdrDepth(series, "ts", "udg", Seq(
        Depths.Install("a", t(0), -1.0),
        Depths.Install("a", t(1), -0.5)))
    }
    assert(e.getMessage.contains("duplicate sensor"))
  }

  test("chain installation depths from positions") {
    val depths = Depths.chainInstallationDepths(
      (1 to 12).map(i => i -> (i - 1) * 150.0).toMap, 1, -0.17)
    assert(math.abs(depths(1) - -0.17) < 1e-9)
    assert(math.abs(depths(2) - -0.32) < 1e-9)
    assert(math.abs(depths(12) - (-0.17 - 1.65)) < 1e-9)
  }
}
