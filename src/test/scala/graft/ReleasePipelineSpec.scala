package graft

import org.apache.spark.sql.functions._

/** t131 — the composed release pipeline (ingest → gates → keep-best
  * dedup → span decontam → budget → shuffle → manifest → TFRecord
  * export). The DuckDB oracle gates the VALUES end to end; this spec
  * pins the properties the oracle can't see: the artifact run is
  * idempotent (stale shards from a previous survivor set are cleared,
  * a re-run reproduces the bytes), the integrity columns are clean,
  * and the final plan has the shape the composition promises (the
  * upstream stages are checkpointed — the output plan reads ONE
  * staged artifact RDD and ONE read-back file scan, no re-execution
  * lineage and no broadcast hints). */
class ReleasePipelineSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def run() =
    SparkEntry.queries("t131_release_pipeline")(spark, sfDir)

  test("release pipeline: non-empty, integrity columns clean, and a " +
    "re-run in the same JVM reproduces the artifact byte-for-byte") {
    val first = run().collect().sortBy(_.getString(0))
    assert(first.nonEmpty, "release produced zero shards")
    val asMap = first.map(r => r.getString(0) -> r.toSeq).toMap
    // integrity: every record's CRCs verified on read-back, zero
    // quarantined ingest lines
    first.foreach { r =>
      assert(r.getAs[Long]("crc_fail") === 0L, s"crc_fail in $r")
      assert(r.getAs[Long]("quarantined") === 0L, s"quarantine in $r")
      // input_ids are the TRAINED unigram tokenizer's vocab ids
      // (r15): fertility is ≥ 1 piece per non-empty kept token, so
      // the decoded piece total is positive for a non-empty shard
      // and can legitimately exceed n_tokens (which counts empty
      // tokens too). Exact values are the DuckDB oracle's gate.
      assert(r.getAs[Long]("token_total") > 0L, s"no pieces in $r")
    }
    // idempotence + publication safety (r16): a same-JVM re-run
    // serves the MEMOIZED run — identical values, and the published
    // run dir is never written again (a concurrent reader that
    // resolved _latest can never glob a mid-rewrite shard set)
    val relDir = SparkEntry.releaseRunDirForTest(spark, sfDir)
    def shardStamps(): Map[String, Long] = {
      val d = new java.io.File(s"$relDir/tfrec")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".tfrecord"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val stamps1 = shardStamps()
    assert(stamps1.nonEmpty, s"no committed shards under $relDir/tfrec")
    val second = run().collect().sortBy(_.getString(0))
    assert(second.map(r => r.getString(0) -> r.toSeq).toMap === asMap,
      "re-run drifted from the first artifact")
    assert(shardStamps() === stamps1,
      "re-run rewrote shards in a PUBLISHED run dir")
  }

  test("an in-place corpus rewrite lands the release in a NEW run " +
    "dir and republishes; the old published dir is never touched") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-release-rebuild").toString
    def corpus(tag: String) =
      (0 until 60).map(i => (i.toLong, "web",
        s"the $tag and of to in is that it document $i"))
        .toDF("doc_id", "source", "text")
    corpus("alpha").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    SparkEntry.queries("t131_release_pipeline")(spark, dir).collect()
    val dir1 = SparkEntry.releaseRunDirForTest(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new java.io.File(dir1).getParent
    assert(graft.sink.Release.resolveLatest(conf, root) === Some(dir1))
    val files1 = Option(new java.io.File(s"$dir1/tfrec").listFiles())
      .getOrElse(Array.empty)
      .map(f => f.getName -> f.lastModified()).toMap
    // rewrite the corpus in place → fingerprint changes → the chain
    // must re-run into a FRESH dir (memo hit would serve stale data;
    // reusing dir1 would rewrite a published artifact)
    Thread.sleep(1100) // fs mtime granularity for the fingerprint
    corpus("beta").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    SparkEntry.queries("t131_release_pipeline")(spark, dir).collect()
    val dir2 = SparkEntry.releaseRunDirForTest(spark, dir)
    assert(dir2 !== dir1, "corpus rewrite did not re-run the chain")
    assert(graft.sink.Release.resolveLatest(conf, root) === Some(dir2))
    val files1After = Option(new java.io.File(s"$dir1/tfrec").listFiles())
      .getOrElse(Array.empty)
      .map(f => f.getName -> f.lastModified()).toMap
    assert(files1After === files1,
      "republish touched the previously published run dir")
  }

  test("release dir protocol: run dirs are per-session, the run " +
    "publishes via _latest, and two interleaved publishers never " +
    "expose a torn artifact to a concurrent reader") {
    import graft.sink.Release
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files
      .createTempDirectory("graft-release-root").toString
    assert(Release.resolveLatest(conf, root) === None)
    // two sessions own DISTINCT immutable run dirs
    val runA = Release.runDir(root, "app-A")
    val runB = Release.runDir(root, "app:B/odd")
    assert(runA !== runB)
    assert(!runB.contains(":") && !new java.io.File(runB).getName
      .contains("/"), "run dir token must sanitize to a path segment")
    def fill(dir: String, tag: String): Unit = {
      val d = new java.io.File(dir); d.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "artifact.txt"), s"$tag-complete")
    }
    fill(runA, "A"); fill(runB, "B")
    // interleaved publishers + a concurrent reader: every resolve
    // must land on SOME complete artifact (old or new, never torn)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val writers = Seq(runA, runB).map { d =>
      new Thread(() => {
        var i = 0
        while (i < 40 && bad.get() == null) {
          Release.publishLatest(conf, root, d); i += 1
        }
      })
    }
    val reader = new Thread(() => {
      while (!stop.get() && bad.get() == null) {
        Release.resolveLatest(conf, root) match {
          case Some(dir) =>
            val f = java.nio.file.Paths.get(dir, "artifact.txt")
            val ok = java.nio.file.Files.exists(f) &&
              new String(java.nio.file.Files.readAllBytes(f))
                .endsWith("-complete")
            if (!ok) bad.set(s"torn artifact at $dir")
          case None => bad.set("pointer vanished mid-publishing")
        }
      }
    })
    writers.foreach(_.start()); Thread.sleep(10); reader.start()
    writers.foreach(_.join()); stop.set(true); reader.join()
    assert(bad.get() === null, String.valueOf(bad.get()))
    // final state resolves to one of the two published runs
    assert(Set(runA, runB).contains(
      Release.resolveLatest(conf, root).get))
  }

  test("t131 publishes its run: _latest resolves to a dir whose " +
    "TFRecord export is readable") {
    import graft.sink.Release
    run().collect()
    val relRoot = s"/tmp/graft_release/${Stage.key(sfDir)}"
    val latest = Release.resolveLatest(
      spark.sparkContext.hadoopConfiguration, relRoot)
    assert(latest.isDefined, s"no _latest under $relRoot")
    // run dirs are appId + per-execution sequence since r16 (a
    // published dir is never written again): the pointer must land on
    // a dir this session owns, and on THE dir the memoized run names
    assert(latest.get.startsWith(Release.runDir(relRoot,
      spark.sparkContext.applicationId)),
      s"published dir ${latest.get} not owned by this session")
    assert(latest.get ===
      SparkEntry.releaseRunDirForTest(spark, sfDir))
    val shards = graft.sink.TfRecord.read(spark, s"${latest.get}/tfrec")
    assert(shards.count() > 0, "published run has no readable shards")
  }

  test("release consumer (t139): reads through _latest, verifies the " +
    "shipped manifest, and fails LOUD on a flipped byte, a truncated " +
    "shard, and a deleted shard") {
    // own corpus dir → own release root: the faults injected below
    // must not poison the sf0.001 artifact other tests share. The
    // corpus is a COPY of sf0.001's documents (a uniform synthetic
    // corpus gates to an empty release: identical quality scores mean
    // nothing clears the self-calibrated median cut).
    val dir = java.nio.file.Files
      .createTempDirectory("graft-release-consume").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def consume() =
      SparkEntry.queries("t139_release_consume")(spark, dir).collect()
    val clean = consume()
    assert(clean.nonEmpty, "consumer saw an empty release")
    clean.foreach { r =>
      assert(r.getAs[Long]("crc_fail") === 0L, s"crc_fail in $r")
      assert(r.getAs[Boolean]("records_match"), s"records in $r")
      assert(r.getAs[Boolean]("pieces_match"), s"pieces in $r")
      assert(r.getAs[Boolean]("ids_match"), s"ids in $r")
      assert(r.getAs[Boolean]("keys_match"), s"keys in $r")
    }
    val published = graft.sink.Release.resolveLatest(
      spark.sparkContext.hadoopConfiguration,
      new java.io.File(SparkEntry.releaseRunDirForTest(spark, dir))
        .getParent).get
    val shards = Option(new java.io.File(s"$published/tfrec")
      .listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".tfrecord")).sortBy(_.getName)
    assert(shards.length >= 3, s"need ≥3 shards, got ${shards.length}")
    // drop the Hadoop .crc sidecars of the shards mutated below, so
    // the OUT-OF-BAND corruption reaches the TFRecord-level CRC32C
    // instead of tripping ChecksumFileSystem first (TfRecordSpec's
    // idiom) — a real object store has no sidecars
    shards.take(3).foreach { f =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(f.getParent, s".${f.getName}.crc"))
    }
    // fault 1: flip one byte mid-data in shard 0 → that record's
    // CRC32C fails → crc_fail > 0 (and the decode is skipped, so the
    // audit itself survives the garbage bytes)
    locally {
      val f = shards(0)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x41).toByte
      java.nio.file.Files.write(f.toPath, bytes)
    }
    // fault 2: truncate shard 1 → the reader quarantines the torn
    // tail → recount falls short of the manifest
    locally {
      val f = shards(1)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      java.nio.file.Files.write(f.toPath,
        java.util.Arrays.copyOf(bytes, bytes.length - 7))
    }
    // fault 3: delete shard 2 entirely → manifest row joins nothing
    assert(shards(2).delete())
    val faulty = consume().map(r =>
      r.getString(0) -> r).toMap
    def name(i: Int) = shards(i).getName.stripSuffix(".tfrecord")
    assert(faulty(name(0)).getAs[Long]("crc_fail") > 0L,
      "flipped byte did not surface as crc_fail")
    val trunc = faulty(name(1))
    assert(trunc.getAs[Long]("crc_fail") > 0L ||
      !trunc.getAs[Boolean]("records_match"),
      "truncated shard surfaced neither as crc_fail nor as a recount " +
        "mismatch")
    val gone = faulty(name(2))
    assert(gone.isNullAt(gone.fieldIndex("records_match")) ||
      !gone.getAs[Boolean]("records_match"),
      "deleted shard still records_match=true")
    assert(gone.getAs[Long]("n_records") === 0L)
    // fault 4: a CRC-VALID manifest rewrite that lies about the
    // exported ids — record and piece counts untouched, so the r16
    // consumer (counts only) passed it; ids_match must now fail on
    // every shard the earlier faults left intact
    locally {
      val m = spark.read.parquet(s"$published/manifest")
        .withColumn("id_sum", col("id_sum") + lit(1L))
        .localCheckpoint() // materialize before overwriting the source
      m.coalesce(1).write.mode("overwrite").parquet(s"$published/manifest")
    }
    val lied = consume().map(r => r.getString(0) -> r).toMap
    val untouched = lied.keySet -- Set(name(0), name(1), name(2))
    assert(untouched.nonEmpty, "no shard untouched by faults 1-3")
    untouched.foreach { sh =>
      val r = lied(sh)
      assert(!r.getAs[Boolean]("ids_match"),
        s"manifest id_sum lie not caught on $sh")
      assert(r.getAs[Boolean]("records_match") &&
        r.getAs[Boolean]("pieces_match"),
        s"counts should still match on $sh (the lie is ids-only)")
    }
  }

  test("release pipeline plan: output reads one checkpointed artifact " +
    "and one read-back scan — no stage re-execution, no hints") {
    val df = run()
    val plan = df.queryExecution.optimizedPlan
    val rdds = plan.collect {
      case r: org.apache.spark.sql.execution.ExternalRDD[_] => r
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    }
    assert(rdds.size === 1,
      s"expected exactly 1 checkpointed artifact RDD, got ${rdds.size}")
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.datasources
        .LogicalRelation => s
    }
    assert(scans.size === 1,
      s"expected exactly 1 read-back file scan, got ${scans.size}")
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"release output plan must carry no hints, got ${hints.size}")
  }
}
