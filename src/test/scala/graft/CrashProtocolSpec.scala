package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** Crash and race protocol tests for the maintenance paths whose
  * failure deletes a corpus: compactSink's temp-swap under an
  * injected rename fault (the real syscall failing mid-protocol, not
  * a hand-built directory state) and the compaction lease that turns
  * the compact-vs-append race into a loud retry. */
class CrashProtocolSpec extends SparkSpec {

  private def faultPath(suffix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_fault")
    s"faultfs:$dir/$suffix"
  }

  test("compactSink: injected rename fault mid-swap, then full recovery") {
    import spark.implicits._
    val sink = faultPath("docs")
    val localSink = new java.io.File(new java.net.URI("file:" +
      new org.apache.hadoop.fs.Path(sink).toUri.getPath))
    // seed a multi-file sink through the fault FS
    Seq((1L, "keep one"), (2L, "keep two"), (3L, "keep three"))
      .toDF("doc_id", "text").repartition(3)
      .write.mode("overwrite").parquet(sink)
    val before = spark.read.parquet(sink).as[(Long, String)].collect().toSet
    // arm: the swap's final rename (dst = the sink itself) throws —
    // the process "dies" after delete-old, the corpus's only copy is
    // the sibling temp
    FaultFs.failRenameDst = Some(
      new org.apache.hadoop.fs.Path(sink).toUri.getPath)
    try intercept[java.io.IOException] {
      Streaming.compactSink(spark, sink, targetFiles = 1)
    } finally FaultFs.failRenameDst = None
    // crash window state: no sink, complete temp with commit marker
    assert(!localSink.exists())
    val tmpDir = new java.io.File(localSink.getParent, "docs__tmp")
    assert(tmpDir.exists())
    assert(new java.io.File(tmpDir, "_SUCCESS").exists())
    // the lease must not have survived the crash as a fresh lock that
    // wedges recovery (finally-released even on the injected throw)
    assert(!new java.io.File(localSink.getParent, "docs__lock").exists())
    // recovery: the next maintenance run promotes the orphan and
    // completes the compaction it was asked for
    Streaming.compactSink(spark, sink, targetFiles = 1)
    val after = spark.read.parquet(sink).as[(Long, String)].collect().toSet
    assert(after === before)
    assert(!tmpDir.exists())
    assert(localSink.listFiles().count(_.getName.startsWith("part-")) === 1)
  }

  test("appends refuse a fresh compaction lease and resume when stale") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lease")
    val sink = root.toString + "/docs"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink).start()
    input.addData((1L, "first doc"))
    q.processAllAvailable()
    // a live compaction's lease: the append batch must fail LOUDLY
    // (silently proceeding is how the swap destroys the batch's files)
    val lock = new java.io.File(root.toFile, "docs__lock")
    assert(lock.createNewFile())
    input.addData((2L, "second doc"))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(c => c +: causes(c.getCause))
    assert(causes(err).exists(c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("compaction in flight")))
    // the failed query is dead; a crashed compactor's STALE lock must
    // not wedge the restarted stream forever
    assert(lock.setLastModified(
      System.currentTimeMillis() - 16 * 60 * 1000L))
    val q2 = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink).start()
    input.addData((3L, "third doc"))
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(sink).select("doc_id")
      .as[Long].collect().toSet
    assert(ids.contains(1L) && ids.contains(3L))
  }

  test("compactSink: fresh foreign lease rejected, stale lease reclaimed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lease2")
    val sink = root.toString + "/docs"
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .repartition(2).write.parquet(sink)
    val lock = new java.io.File(root.toFile, "docs__lock")
    assert(lock.createNewFile())
    intercept[IllegalStateException] {
      Streaming.compactSink(spark, sink, targetFiles = 1)
    }
    // stale (crashed compactor from 16 min ago): reclaim and proceed
    assert(lock.setLastModified(
      System.currentTimeMillis() - 16 * 60 * 1000L))
    Streaming.compactSink(spark, sink, targetFiles = 1)
    assert(!lock.exists()) // released after the run
    assert(spark.read.parquet(sink).count() === 2)
    assert(new java.io.File(sink).listFiles()
      .count(_.getName.startsWith("part-")) === 1)
  }

  test("compactSink: rename returning FALSE (HDFS convention) fails " +
    "loudly, then recovers") {
    import spark.implicits._
    val sink = faultPath("docs")
    val localSink = new java.io.File(new java.net.URI("file:" +
      new org.apache.hadoop.fs.Path(sink).toUri.getPath))
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .repartition(3).write.mode("overwrite").parquet(sink)
    val before = spark.read.parquet(sink).as[(Long, String)].collect().toSet
    // the OTHER failure mode: rename fails by returning false, not by
    // throwing — an unchecked swap would report success with the sink
    // gone (the pre-fix behavior)
    FaultFs.falseRenameDst = Some(
      new org.apache.hadoop.fs.Path(sink).toUri.getPath)
    val e = try intercept[java.io.IOException] {
      Streaming.compactSink(spark, sink, targetFiles = 1)
    } finally FaultFs.falseRenameDst = None
    assert(e.getMessage.contains("returned false"))
    // same crash-window state as the throwing path; same recovery
    assert(!localSink.exists())
    assert(new java.io.File(localSink.getParent, "docs__tmp").exists())
    Streaming.compactSink(spark, sink, targetFiles = 1)
    assert(spark.read.parquet(sink).as[(Long, String)].collect().toSet
      === before)
  }

  test("compactSink: an append landing mid-rewrite aborts the swap " +
    "with the sink untouched") {
    import spark.implicits._
    val sink = faultPath("docs")
    val localSink = new java.io.File(new java.net.URI("file:" +
      new org.apache.hadoop.fs.Path(sink).toUri.getPath))
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .repartition(3).write.mode("overwrite").parquet(sink)
    // fire during the tmp write's commit renames: copy a part file in
    // under a new name — an append that slipped past its lease check
    // (expired lease or in flight before the lock)
    FaultFs.onRenameTo = Some(("docs__tmp", () => {
      val part = localSink.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(localSink, "part-appended.parquet").toPath)
    }))
    val e = try intercept[IllegalStateException] {
      Streaming.compactSink(spark, sink, targetFiles = 1)
    } finally FaultFs.onRenameTo = None
    assert(e.getMessage.contains("changed during the rewrite"))
    // the swap never ran: sink intact INCLUDING the raced append —
    // nothing was silently destroyed (the pre-fix failure mode)
    assert(new java.io.File(localSink, "part-appended.parquet").exists())
    assert(localSink.listFiles().count(_.getName.endsWith(".parquet")) === 4)
    // a rerun (no race this time) compacts everything, append included
    Streaming.compactSink(spark, sink, targetFiles = 1)
    assert(localSink.listFiles().count(_.getName.startsWith("part-")) === 1)
  }

  test("compactSink: lease token overwritten mid-rewrite aborts before " +
    "the swap and leaves the rival's lock") {
    import spark.implicits._
    val sink = faultPath("docs")
    val localSink = new java.io.File(new java.net.URI("file:" +
      new org.apache.hadoop.fs.Path(sink).toUri.getPath))
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .repartition(2).write.mode("overwrite").parquet(sink)
    val lock = new java.io.File(localSink.getParent, "docs__lock")
    // a reclaimer that judged OUR lease stale overwrites the token
    // while the rewrite runs; the destructive swap must then abort
    FaultFs.onRenameTo = Some(("docs__tmp", () =>
      java.nio.file.Files.writeString(lock.toPath, "rival-token")))
    val e = try intercept[IllegalStateException] {
      Streaming.compactSink(spark, sink, targetFiles = 1)
    } finally FaultFs.onRenameTo = None
    assert(e.getMessage.contains("lost during the rewrite"))
    // sink untouched, and the RIVAL's lock must survive our release
    // (deleting it would hand a third compactor the same sink)
    assert(spark.read.parquet(sink).count() === 2)
    assert(lock.exists() &&
      java.nio.file.Files.readString(lock.toPath) == "rival-token")
    lock.delete()
  }

  test("noveltyGateStream: bloom-swap crash + renumbered replay must " +
    "not flip the replayed batch's admissions to rejections") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val sink = faultPath("ng")
    def words(a: Int, b: Int) = (a until b).map(i => s"n$i").mkString(" ")
    // batch 0 with the bloom swap's final rename armed to throw: the
    // report partition lands, the only bitmap copy is the temp — the
    // exact crash window where a replay would probe a bloom that
    // already contains its own admitted grams
    val in1 = MemoryStream[(Long, String)]
    val q1 = Streaming.noveltyGateStream(
      in1.toDS().toDF("doc_id", "text"), "doc_id", "text", sink,
      n = 4, numBits = 1 << 16, numHashes = 4).start()
    FaultFs.failRenameDst = Some(
      new org.apache.hadoop.fs.Path(s"$sink/bloom").toUri.getPath)
    try {
      in1.addData((1L, words(0, 40)), (2L, words(100, 140)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
    } finally { FaultFs.failRenameDst = None; q1.stop() }
    // report is on disk with the TRUE admissions; bloom is stranded
    val rep0 = spark.read.parquet(s"$sink/admitted")
      .where(col("batch_id") === 0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("admitted")).toMap
    assert(rep0 === Map(1L -> 1L, 2L -> 1L))
    // "restart": a fresh stream (fresh checkpoint — batches renumber
    // from 0) redelivers the same data. Recovery promotes the orphan
    // bitmap (which already folded batch 0), so WITHOUT the
    // last_batch guard this re-probe would measure zero novelty and
    // overwrite both admissions with rejections.
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streaming.noveltyGateStream(
      in2.toDS().toDF("doc_id", "text"), "doc_id", "text", sink,
      n = 4, numBits = 1 << 16, numHashes = 4).start()
    in2.addData((1L, words(0, 40)), (2L, words(100, 140)))
    q2.processAllAvailable()
    // batch 1 (a genuinely new doc + a copy of doc 1) must process
    // normally against the recovered bitmap
    in2.addData((3L, words(200, 240)), (4L, words(0, 40)))
    q2.processAllAvailable()
    q2.stop()
    val all = spark.read.parquet(s"$sink/admitted")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("admitted")).toMap
    assert(all(1L) === 1L && all(2L) === 1L,
      "replayed batch must keep its original admissions")
    assert(all(3L) === 1L, "post-recovery novel doc must admit")
    assert(all(4L) === 0L,
      "post-recovery copy must reject against the recovered bitmap")
  }
}
