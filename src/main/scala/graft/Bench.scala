package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=t44_dup_spans,t45_… restricts the run for local
    // iteration; the driver never sets it, so round benches stay full.
    // Checked before the session starts; an empty list times nothing.
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"),
      "SPARK_GRAFT_ONLY")
    val failed = GraftSession.run(timeAll(_, sfDir, selected),
      stopIfStarted = true)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Warms every selected query, times it in two passes and prints the
    * JSON lines; returns the names of the queries that failed. */
  private def timeAll(spark: SparkSession, sfDir: String,
                      selected: Map[String, (SparkSession, String) => DataFrame])
      : Seq[String] = {
    // Spill accounting for the memory-pressure probes (r14 verdict
    // #5): a run that completes by SPILLING under a small heap is the
    // property that separates "fast at 100×" from "survives a real
    // cluster's memory share" — make it visible in the tail JSON.
    val memSpill = new java.util.concurrent.atomic.AtomicLong()
    val diskSpill = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            memSpill.addAndGet(m.memoryBytesSpilled)
            diskSpill.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    // Warm the JVM/codegen/JIT paths for EVERY query shape on the TINY
    // sf before timing (standard JMH practice). Profiling shows each
    // plan shape pays a one-time 2-8 s cost — janino compilation of its
    // generated code plus C2 JIT of the kernel paths — that steady-state
    // execution doesn't (t9_ivf_probe: 8.5 s first run, 1.0 s after).
    // Warmup on sf0.001 cannot precompute sf0.1 work — nothing is
    // cached; only compiled-code state carries over.
    // warmup dir: env override, else the standard tiny fixture, else
    // the bench dir itself (a slow warmup beats a silent no-op that
    // shifts the JIT cost into pass 1); NonFatal only — swallowing
    // OOM/interrupts would hide real trouble
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      if (new java.io.File("/root/testdata/sf0.001").isDirectory)
        "/root/testdata/sf0.001" else sfDir)
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): (Double, Boolean) = {
      // announce BEFORE running (stderr, not the JSON contract): a
      // hard JVM death (the 8 GiB 100× probe's failure mode) must
      // leave the culprit's name in the log
      System.err.println(s"[bench] start $name")
      // restore on exit: the description is thread-inherited session
      // state — without the finally, every job after the bench loop
      // (and any interleaved work on a shared session) reports the
      // LAST query's name in the UI/event logs
      spark.sparkContext.setJobDescription(name)
      try {
        val t0 = System.nanoTime()
        // noop sink: forces every output column to be computed (a bare
        // count() would let Catalyst prune the measured expressions away)
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      } finally spark.sparkContext.setJobDescription(null)
    }
    // Min-of-2: every query is timed in TWO full passes and the min
    // is recorded. One pass is noise-dominated on this box — three
    // same-tree r11 runs spanned 75-159 s for identical plans (GC,
    // JIT recompilation, tiny-task scheduling, ambient load), which
    // drowned cross-round per-query regression detection. The min of
    // two steady-state samples tracks the plan's true cost; both pass
    // totals are printed so the run-to-run spread itself stays
    // visible. A failure in EITHER pass is a real failure observed
    // this run: it reaches the ok map, and a failed sample's time
    // never replaces a valid measurement.
    val pass1 = selected.map { case (name, fn) => name -> timeOne(name, fn) }
    // SPARK_GRAFT_PASSES=1 skips the second pass (the heavy
    // heap-starved 100× probes, where min-of-2 doubles an hour-long
    // run for no extra evidence); the driver never sets it, so the
    // tracked contract stays min-of-2
    val pass2 =
      if (sys.env.get("SPARK_GRAFT_PASSES").contains("1")) pass1
      else selected.map { case (name, fn) => name -> timeOne(name, fn) }
    val results = pass1.map { case (name, (t1, ok1)) =>
      val (t2, ok2) = pass2(name)
      val t =
        if (ok1 && ok2) math.min(t1, t2)
        else if (ok1) t1
        else t2
      name -> ((t, ok1 && ok2))
    }
    def passTotal(p: Map[String, (Double, Boolean)]): Double =
      if (p.isEmpty) 0.0 else p.values.map(_._1).sum
    val qs = results.map { case (k, (t, _)) => s"\"" + k + "\":" + t }
      .mkString("{", ",", "}")
    val oks = results.map { case (k, (_, ok)) => s"\"" + k + "\":" + ok }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, (_, false)) => k }.toSeq.sorted
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // A failed query must make the whole run red: without the rc!=0 a
    // broken query contributes a near-zero time and silently IMPROVES
    // the recorded total. `queries` stays name→seconds for the driver;
    // `ok` carries per-query success alongside.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"ok":$oks,"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"pass1_total":${passTotal(pass1)},"pass2_total":${passTotal(pass2)},"sf":"$sfDir"}""")
    // The driver archives only the LAST ~2000 chars of stdout; the full
    // JSON above is ~8 KB, so its per-query timings were truncated away
    // in r10 (BENCH_r10.json parsed:null). Repeat the signal in a
    // compact tail line — total, top-10 slowest with times, failures —
    // sized to always survive the driver's tail window.
    val top10 = results.toSeq.sortBy(-_._2._1).take(10)
      .map { case (k, (t, _)) => f""""$k":${t}%.2f""" }
      .mkString("{", ",", "}")
    // Per-pass samples for the top-10: min-of-2 can still surface a
    // busy-box pass-1 outlier as a "slow query" in this report (r13:
    // t127 4.91 s recorded vs ~1.7 s reproducible). With both samples
    // printed, an outlier is self-explaining — a real regression shows
    // in BOTH passes, noise in one.
    val top10Passes = results.toSeq.sortBy(-_._2._1).take(10)
      .map { case (k, _) =>
        f""""$k":[${pass1(k)._1}%.2f,${pass2(k)._1}%.2f]""" }
      .mkString("{", ",", "}")
    // cc_iters: rounds the last connected-components fixpoint took
    // (-1 = none ran). The scaling smokes read this — pointer-jumping
    // must stay ~log2(diameter) as the corpus grows.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"queries":$top10,"top10_passes":$top10Passes,"partial_top10":true,"min_of":2,"pass1_total":${passTotal(pass1)},"pass2_total":${passTotal(pass2)},"failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"cc_iters":${graft.ops.Dedup.lastCcIterations},"spill_mb":{"mem":${memSpill.get() / (1024 * 1024)},"disk":${diskSpill.get() / (1024 * 1024)}},"heap_max_mb":${Runtime.getRuntime.maxMemory() / (1024 * 1024)},"sf":"$sfDir"}""")
    // The driver archives only ~2 KB of stdout tail, so the complete
    // per-query map above is truncated away — which made cross-round
    // per-query regression diffing impossible from archives alone
    // (the r15 verdict had to RE-RUN the suite to clear a contended
    // 163 s headline). Persist the full name→[pass1,pass2] map as a
    // repo artifact, committed per round; SPARK_GRAFT_BENCH_FULL
    // overrides the path (scale probes write elsewhere).
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "bench_full.json")
    val fullJson = results.toSeq.sortBy(_._1).map { case (k, (_, ok)) =>
      f""""$k":{"passes":[${pass1(k)._1}%.3f,${pass2(k)._1}%.3f],"ok":$ok}"""
    }.mkString(
      s"""{"sf":"$sfDir","n":${results.size},"total":$total,""" +
        s""""pass1_total":${passTotal(pass1)},""" +
        s""""pass2_total":${passTotal(pass2)},"queries":{""",
      ",", "}}")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      fullJson.getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $fullPath: $e") }
    failed
  }
}
