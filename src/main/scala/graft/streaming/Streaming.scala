package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming append sinks with sink-owned state: the
  * content, frontier and image dedup appends, the novelty gate, and
  * the compaction that rewrites their small files under a lease (the
  * temp-swap protocol `CrashProtocolSpec` fault-injects). No entry
  * point runs them; they are the last unreachable main code, kept
  * with their specs until their own removal. */
object Streaming {

  /** Sink-owned-state probe shared by the foreachBatch maintainers.
    * Hadoop FS, not java.io.File: the sink can be HDFS/object storage,
    * where a local-file existence check is always false and cross-batch
    * state would silently vanish. "Has data" = the directory contains
    * at least one part file — a bare checkpoint-created dir must not
    * be read (schema inference fails on an empty dir). */
  private def hasPartFiles(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))


  /** Incremental corpus append with SINK-OWNED dedup state — the
    * operational ingest loop (t49's streaming form): each microbatch
    * anti-joins the content hashes already IN the sink, then appends
    * only novel documents. `foreachBatch` is the right surface because
    * the dedup state is the sink itself (re-read per batch, one
    * hash-column scan) — no stream state to bound, restarts are
    * idempotent for exact duplicates, and the anti-join is
    * batch-sized ⋈ hash-index-sized, never stream history. Documents
    * duplicated WITHIN one microbatch collapse to their first row
    * (deterministic min doc order) before the sink check. */
  def appendDedupedStream(in: DataFrame, idCol: String, textCol: String,
                          sinkPath: String) = {
    in.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        dedupAppendBatch(batch.withColumn("__h", md5(col(textCol))),
          "__h", idCol, sinkPath)
    }
  }

  /** Crawl-frontier URL dedup — t89's operational form: discovered
    * URLs stream in, canonicalize map-side (`TextOps.canonicalUrl` —
    * the same key a 100 TB frontier partitions its seen-table by),
    * and only FIRST sightings of a canonical URL append to the
    * frontier sink (`canon_url` column alongside the original).
    * Identical sink-owned-state shape as the content-dedup ingest:
    * the seen-check is one narrow canon_url-column scan of the sink,
    * in-batch rivals collapse to the min-`idCol` row, and replays
    * anti-join to nothing — idempotent without batch-id machinery. */
  def frontierDedupStream(in: DataFrame, idCol: String, urlCol: String,
                          sinkPath: String) = {
    in.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        dedupAppendBatch(
          batch.withColumn("canon_url",
            graft.ops.TextOps.canonicalUrl(col(urlCol))),
          "canon_url", idCol, sinkPath)
    }
  }

  /** The ONE sink-owned-state dedup microbatch, shared by every
    * keyed append sink (`appendDedupedStream` on md5(text),
    * `imageDedupStream` on the dHash): keep the in-batch first row
    * per key, anti-join the standing sink on the PERSISTED key column
    * (a single narrow-column scan — payloads/text in the sink are
    * never re-read), append the novel rows. Replays re-land the same
    * keys and anti-join to nothing — idempotent without batch-id
    * machinery. One copy so a crash-safety or commit-protocol fix
    * can never cover one modality and miss the other. */
  private def dedupAppendBatch(keyed: DataFrame, keyCol: String,
                               idCol: String, sinkPath: String): Unit = {
    val spark = keyed.sparkSession
    val inBatchFirst = keyed
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol).orderBy(idCol)))
      .where(col("__rk") === 1).drop("__rk")
    val (fs, hPath, tmp) = sinkPaths(spark, sinkPath)
    // refuse to append under a live compaction lease: the compactor's
    // delete-old would silently destroy this batch's files. NOTE a
    // foreachBatch exception FAILS the streaming query — there is no
    // engine-level batch retry. The checkpoint still holds this
    // batch's offsets, so the operator's restart policy re-runs it
    // from the same data, and the idempotent append makes that replay
    // safe; what the throw buys is that the failure is LOUD instead
    // of silent data loss.
    guardCompactionLease(spark, sinkPath, "dedupAppendBatch")
    // a compactSink crash between delete-old and rename leaves the
    // WHOLE corpus in the temp dir and no sink; if this batch ran
    // first without promoting it, the bootstrap write would create a
    // new sink and strand the history (the orphan condition would
    // never fire again). Promotion must precede the has-data probe.
    promoteOrphanTemp(fs, hPath, tmp)
    val novel =
      if (hasPartFiles(fs, hPath)) {
        val seen = spark.read.parquet(sinkPath)
          .select(col(keyCol).as("__seen_k")).distinct()
        // NULL-SAFE anti-join: a null key (null text/URL upstream)
        // never equals anything under a plain equi-join, so one such
        // row would re-append on EVERY batch forever; <=> extends
        // keep-first to the null key — at most one null-key row ever
        inBatchFirst.join(seen,
          inBatchFirst(keyCol) <=> col("__seen_k"), "left_anti")
      } else inBatchFirst
    // the anti-join moves the key column to the front — re-select the
    // batch's own order so every sink file carries ONE column layout
    // (parquet merges by name either way, but mixed-order files make
    // positional readers and schema diffs needlessly confusing).
    // Backtick-quoted: a dotted column name must select literally,
    // not resolve as a nested field path.
    novel.select(inBatchFirst.columns.toIndexedSeq
        .map(n => col("`" + n.replace("`", "``") + "`")): _*)
      .write.mode("append").parquet(sinkPath)
  }

  /** Normalized (fs, sink, temp) triple for the temp-swap protocol.
    * The temp is a SIBLING of the normalized sink path — deriving it
    * by string concat would nest it INSIDE the sink when callers pass
    * a trailing slash, and the swap's delete-old would then destroy
    * the freshly written temp. */
  private def sinkPaths(spark: org.apache.spark.sql.SparkSession,
                        sinkPath: String) = {
    val hPath = new org.apache.hadoop.fs.Path(sinkPath)
    val tmp = new org.apache.hadoop.fs.Path(
      hPath.getParent, hPath.getName + "__tmp")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, hPath, tmp)
  }

  /** Refuse an append under a live compaction lease — the shared
    * guard for EVERY append sink, not only the keyed dedup one: a
    * compactor's delete-old between its final snapshot and the swap
    * silently destroys files appended in that window, and the lock
    * exists precisely so appenders can make that loss LOUD. */
  private def guardCompactionLease(
      spark: org.apache.spark.sql.SparkSession, sinkPath: String,
      who: String): Unit = {
    val (fs, hPath, _) = sinkPaths(spark, sinkPath)
    if (lockIsFresh(fs, lockPath(hPath)))
      throw new IllegalStateException(
        s"$who: compaction in flight on $sinkPath (lock file " +
          "present) — restart the stream to retry the batch")
  }

  /** Orphan-recovery half of the temp-swap: death between delete-old
    * and rename-temp left a COMPLETE temp (has _SUCCESS) and no sink —
    * promote it before anything probes or writes the sink. The target
    * must not exist at rename time: Hadoop rename onto an existing
    * directory NESTS the source inside it. */
  private def promoteOrphanTemp(fs: org.apache.hadoop.fs.FileSystem,
                                hPath: org.apache.hadoop.fs.Path,
                                tmp: org.apache.hadoop.fs.Path): Unit =
    if (!hasPartFiles(fs, hPath) && hasPartFiles(fs, tmp) &&
        fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      if (fs.exists(hPath) && !fs.delete(hPath, true))
        throw new java.io.IOException(
          s"promoteOrphanTemp: delete($hPath) returned false")
      if (!fs.rename(tmp, hPath))
        throw new java.io.IOException(
          s"promoteOrphanTemp: rename($tmp, $hPath) returned false — " +
            "corpus still in the temp dir; fix the filesystem and rerun")
    }

  /** Commit half of the temp-swap: the replacement at `tmp` is durable
    * — retire the old sink and move the new one in. The _SUCCESS
    * marker `promoteOrphanTemp` keys on is written HERE, not assumed
    * from the job committer: with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` the
    * committer writes none, and a crash between delete-old and
    * rename-temp would then strand the whole corpus in __tmp forever
    * (the promote predicate could never fire and the next batch would
    * bootstrap a fresh sink, silently re-admitting duplicates). The
    * write call returning IS the commit signal — the marker just makes
    * it durable for the recovery path. */
  private def swapInTemp(fs: org.apache.hadoop.fs.FileSystem,
                         hPath: org.apache.hadoop.fs.Path,
                         tmp: org.apache.hadoop.fs.Path): Unit = {
    val marker = new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    // Hadoop FS mutations fail BOTH ways: by throwing AND by returning
    // false (the HDFS convention for e.g. a missing rename parent).
    // An unchecked false here reports success with the sink missing —
    // every reader breaks until maintenance happens to run again.
    if (fs.exists(hPath) && !fs.delete(hPath, true))
      throw new java.io.IOException(
        s"swapInTemp: delete($hPath) returned false — old sink still " +
          "in place, replacement intact in the temp; rerun")
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(
        s"swapInTemp: rename($tmp, $hPath) returned false — corpus is " +
          "in the temp dir; promoteOrphanTemp recovers it on the next " +
          "maintenance or append run")
  }

  /** Best-effort compaction lease: `compactSink`'s swap must not race
    * an in-flight append (an append landing between compaction's read
    * and its delete-old is silently destroyed). The lease turns that
    * silent loss into a LOUD, retryable failure: compaction holds a
    * sibling `__lock` file (containing its owner token) while it
    * runs, and the append batches refuse to write under a fresh lock.
    * A crashed compaction's leftover lock expires after `lockStaleMs`
    * so the stream cannot wedge forever; a LIVE compaction renews its
    * lock's mtime from a heartbeat thread so a long rewrite never
    * expires mid-run, and verifies it still owns the token before the
    * destructive swap. Stale-lock reclaim goes through an atomic
    * rename, so two reclaimers have exactly one winner. This is still
    * a lease, not a mutex — an append already past its lock check when
    * compaction starts can race; the pre-swap part-file snapshot
    * check narrows that window to the swap itself, and a maintenance
    * window (stream paused) remains the hard guarantee. */
  private val lockStaleMs = 15 * 60 * 1000L

  private def lockPath(hPath: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(
      hPath.getParent, hPath.getName + "__lock")

  private def lockIsFresh(fs: org.apache.hadoop.fs.FileSystem,
                          lock: org.apache.hadoop.fs.Path): Boolean =
    // exists→getFileStatus is a window: the holder's finally-release
    // can delete the lock in between, and a FileNotFoundException here
    // would kill the CALLER's streaming query at exactly the moment
    // the append became safe. A vanished lock is a released lease.
    try fs.exists(lock) &&
      System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime < lockStaleMs
    catch { case _: java.io.FileNotFoundException => false }

  /** Live IMAGE dedup — the multimodal leg of the crawl path
    * (readImageStream → here): per microbatch, one decode pass to the
    * 64-bit dHash, keep the in-batch first row per hash, then
    * anti-join the standing sink on the PERSISTED phash column —
    * appendDedupedStream's sink-owned-state shape with an 8-byte
    * perceptual key instead of md5(text), so "seen" is a narrow
    * 8-byte-column scan and payload pages in the sink are never
    * re-read. Equal-dHash is the stream gate (it already absorbs
    * brightness shifts and rescales by construction); Hamming ≤ 3
    * near-dup CLUSTERING stays a batch pass over the sink
    * (`Multimodal.phashClusters`) — a per-batch band join against the
    * standing corpus would re-shuffle the sink every few seconds for
    * marginal extra recall. Undecodable payloads drop in the decode
    * pass (spec'd); replays re-land the same hashes and anti-join to
    * nothing — idempotent without batch-id machinery. */
  def imageDedupStream(in: DataFrame, sinkPath: String) =
    in.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        // ONE decode pass appends phash to the full rows
        // (mapPartitions — no self-join, no payload-sized shuffle, no
        // second read of the binaryFile source). withVisualHash (r15)
        // admits VIDEO rows too — keyframe dHash in the same 64-bit
        // space — so a video reposting an already-seen still (or vice
        // versa) gates on the same persisted key column; Hamming ≤ 3
        // frames ∪ stills clustering stays the batch pass
        // (Multimodal.visualClusters) over the standing sink.
        dedupAppendBatch(graft.ops.Multimodal.withVisualHash(batch),
          "phash", "id", sinkPath)
    }

  /** Small-file compaction for the append sinks (appendDedupedStream,
    * imageDedupStream): every microbatch appends its
    * own part files, so a long-lived sink accretes thousands of tiny
    * files and the "seen"-key scan pays a per-file open cost that
    * eventually dwarfs the read. Rewrites the sink into `targetFiles`
    * files via the temp-swap (write complete temp →
    * delete old → rename; a complete orphan temp from a previous crash
    * is promoted first), so every crash point leaves a readable sink
    * on an atomic-rename filesystem. Run from a MAINTENANCE schedule,
    * never inside foreachBatch — the swap must not race an in-flight
    * append. Content is unchanged (spec-asserted); only the layout. */
  def compactSink(spark: org.apache.spark.sql.SparkSession,
                  sinkPath: String, targetFiles: Int = 8): Unit = {
    require(targetFiles > 0, s"targetFiles=$targetFiles")
    val (fs, hPath, tmp) = sinkPaths(spark, sinkPath)
    val lock = lockPath(hPath)
    if (lockIsFresh(fs, lock))
      throw new IllegalStateException(
        s"compactSink: another compaction holds the lease on $sinkPath")
    if (fs.exists(lock)) {
      // Stale crash leftover. Reclaim via ATOMIC rename: two
      // compactors both seeing the same stale lock race right here,
      // and delete-then-create admits BOTH (B's delete can remove A's
      // freshly created lock). rename has exactly one winner.
      val grave = new org.apache.hadoop.fs.Path(lock.getParent,
        lock.getName + ".reclaimed." + java.util.UUID.randomUUID())
      if (!fs.rename(lock, grave))
        throw new IllegalStateException(
          s"compactSink: lost the stale-lease reclaim race on $sinkPath")
      fs.delete(grave, false)
    }
    if (!fs.createNewFile(lock))
      throw new IllegalStateException(
        s"compactSink: lost the lease race on $sinkPath")
    // Owner token: freshness alone cannot distinguish OUR lock from a
    // rival's after a reclaim; every destructive step re-reads it.
    val token = java.util.UUID.randomUUID().toString
    locally {
      val out = fs.create(lock, true)
      out.write(token.getBytes("UTF-8")); out.close()
    }
    def owned(): Boolean =
      try {
        val in = fs.open(lock)
        val buf = new Array[Byte](64)
        val n = try in.read(buf) finally in.close()
        n > 0 && new String(buf, 0, n, "UTF-8") == token
      } catch { case _: java.io.IOException => false }
    // Heartbeat: a rewrite longer than lockStaleMs must not let the
    // lease expire mid-run (appends would then pass their freshness
    // check and land files the swap silently destroys). A daemon
    // thread bumps the lock mtime at a third of the stale horizon.
    val heartbeat = java.util.concurrent.Executors
      .newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-compact-lease"); t.setDaemon(true); t
      })
    heartbeat.scheduleAtFixedRate(
      () => try {
        if (owned())
          fs.setTimes(lock, System.currentTimeMillis(), -1)
      } catch { case _: java.io.IOException => () },
      lockStaleMs / 3, lockStaleMs / 3,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    def partSnapshot(): Set[String] =
      if (!fs.exists(hPath)) Set.empty
      else fs.listStatus(hPath).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    try {
      promoteOrphanTemp(fs, hPath, tmp)
      if (!hasPartFiles(fs, hPath)) return // nothing to compact
      val before = partSnapshot()
      // mergeSchema: an accreted sink can carry files under an evolved
      // schema (stream restarted with an added column) — a single-footer
      // read would DROP the newer column and compaction would make that
      // loss permanent
      spark.read.option("mergeSchema", "true").parquet(hPath.toString)
        .repartition(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      // Destructive-step gates, in order: (1) we still own the lease
      // (a reclaimer overwrote the token → our rewrite is outdated and
      // ITS swap is in flight); (2) the sink is byte-identical to what
      // we read (an append that slipped past its freshness check —
      // lease expiry, or in flight before we locked — left files the
      // swap would silently destroy). Both abort LOUDLY with the sink
      // untouched; rerunning compaction is always safe.
      if (!owned())
        throw new IllegalStateException(
          s"compactSink: lease on $sinkPath lost during the rewrite — " +
            "aborting before the swap; sink untouched, rerun")
      val appended = partSnapshot() -- before
      if (appended.nonEmpty)
        throw new IllegalStateException(
          s"compactSink: sink $sinkPath changed during the rewrite " +
            s"(${appended.size} new files) — aborting the swap; sink " +
            "untouched, rerun")
      swapInTemp(fs, hPath, tmp)
    } finally {
      heartbeat.shutdownNow()
      // release only OUR lease — deleting a reclaimer's fresh lock
      // would hand a third compactor the same sink
      if (owned()) fs.delete(lock, false)
    }
  }

  /** Online NOVELTY gate — batch t108's operational form: admit a
    * document only if at least `minNovelPpm` of its n-gram TYPES are
    * unseen so far, then fold the admitted documents' grams into a
    * standing Bloom filter. This is the streaming curation gate that
    * rejects re-syndicated/boilerplate arrivals without any corpus
    * rescan: per batch the work is batch-grams × an O(numBits)
    * broadcast bitmap.
    *
    * Semantics and caveats, stated rather than implied:
    *  - Novelty is measured against the STANDING state only — docs
    *    inside one microbatch do not see each other (arrival order
    *    within a batch is undefined in a stream; making admission
    *    depend on it would be nondeterministic). Two near-copies in
    *    one batch therefore BOTH pass; the next batch's copy fails.
    *  - Only ADMITTED docs' grams fold into the filter: a rejected
    *    doc is by definition mostly already present, and folding its
    *    few novel grams would let rejected content "use up" novelty
    *    it never contributed.
    *  - Bloom false positives can only UNDERCOUNT novelty (a truly
    *    novel gram reads as seen) — the gate errs toward rejecting,
    *    never admits stale content; size numBits for the corpus gram
    *    budget.
    *  - Docs with fewer than n tokens have no grams, hence no
    *    novelty evidence: they are NOT admitted (report row with
    *    n_grams = 0, admitted = 0).
    *  - Replay: admissions write under batch_id=<id> with dynamic
    *    partition overwrite (a replay overwrites its own partition), and the standing bitmap
    *    carries the last folded batchId: a batch at or below it is
    *    SKIPPED entirely. The guard is load-bearing, not bookkeeping
    *    — if a replayed batch re-probed a bloom that already folded
    *    its own admitted grams (the crash window between the bitmap
    *    swap and the checkpoint commit), every admitted doc would
    *    re-measure as novelty 0 and the report overwrite would flip
    *    its admissions to rejections (fault-injected in
    *    CrashProtocolSpec). The fold runs only AFTER the report
    *    write, so a folded batch always has its report partition on
    *    disk — skipping is safe. Needs a DURABLE stream checkpoint:
    *    a temp checkpoint renumbers batches from 0 and the guard
    *    would wrongly skip real early batches.
    *  - The standing bitmap carries its self-describing header; a
    *    restart with different numBits/numHashes fails loudly instead
    *    of silently probing wrong. */
  def noveltyGateStream(in: DataFrame, idCol: String, textCol: String,
                        sinkPath: String, n: Int = 8,
                        numBits: Int = 1 << 20, numHashes: Int = 4,
                        minNovelPpm: Long = 500000L) = {
    in.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val keptPath = s"$sinkPath/admitted"
        val bloomPath = s"$sinkPath/bloom"
        val (fs, bPath, bTmp) = sinkPaths(spark, bloomPath)
        promoteOrphanTemp(fs, bPath, bTmp)
        val grams = batch.select(col(idCol).as("doc_id"),
            explode(graft.functions.SketchExpressions
              .windowHashes(graft.ops.TextOps.tokens(col(textCol)), n))
              .as("__w"))
          .select(col("doc_id"), col("__w.gh").as("gh")).distinct()
        // standing = None (no state yet) / Some(Some(bits)) (probe
        // against it) / Some(None) = REPLAY: this batch already
        // folded — skip entirely (guard is load-bearing, see
        // scaladoc: a bloom that already folded this batch would
        // flip the replayed report's admissions to rejections)
        val standing: Option[Option[DataFrame]] =
          if (hasPartFiles(fs, bPath)) {
            val st = spark.read.parquet(bloomPath)
            val h = st.select(element_at(col("bits"), 1).as("hdr"),
              size(col("bits")).as("len"),
              col("last_batch")).head
            require(h.getLong(0) ==
                graft.functions.BloomExpressions.headerWord(numHashes) &&
                h.getInt(1) == numBits / 64 + 1,
              s"noveltyGateStream: standing bloom at $bloomPath was " +
                s"built with different numBits/numHashes than " +
                s"($numBits, $numHashes) — rebuild it or match its " +
                "configuration")
            // the gram size is as corrupting a config drift as the
            // bitmap geometry: probing n=4 grams against folded
            // n=8 hashes reads EVERYTHING as novel — silently
            val storedN = st.select(col("gram_n")).head.getInt(0)
            require(storedN == n,
              s"noveltyGateStream: standing bloom at $bloomPath " +
                s"folds $storedN-grams, stream configured with " +
                s"n=$n — rebuild it or match its gram size")
            if (batchId <= h.getLong(2)) Some(None)
            else Some(Some(st.select(col("bits"))))
          } else None
        if (standing != Some(None)) {
        val probed = standing.flatten match {
          case Some(st) => grams.crossJoin(broadcast(st))
            .withColumn("__seen", graft.functions.BloomExpressions
              .bloomMightContain(col("bits"), col("gh")))
          case None => grams.withColumn("__seen", lit(false))
        }
        // pre-batch bitmap saturation rides every report row: a
        // saturating bloom reads ever more truly-novel grams as seen
        // and silently rejects everything — the number monitoring
        // must alarm on (resize numBits and rebuild past ~50%)
        val satPpm = standing.flatten match {
          case Some(st) => st.select(
            (aggregate(slice(col("bits"), 2, numBits / 64), lit(0L),
              (acc, x) => acc + bit_count(x)) * 1000000L / numBits)
              .cast("long").as("s")).head.getLong(0)
          case None => 0L
        }
        if (satPpm > 500000L)
          System.err.println(s"[noveltyGateStream] standing bloom at " +
            s"$bloomPath is ${satPpm / 10000}% saturated — novelty " +
            "is being undercounted; resize numBits and rebuild")
        val report = batch.select(col(idCol).as("doc_id"))
          .join(probed.groupBy("doc_id")
            .agg(count(lit(1)).as("n_grams"),
              sum(when(!col("__seen"), 1L).otherwise(0L))
                .as("n_novel")), Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_grams", "n_novel"))
          .withColumn("novel_ppm",
            when(col("n_grams") > 0,
              expr("n_novel * 1000000 div n_grams")).otherwise(0L))
          .withColumn("admitted",
            (col("n_grams") > 0 &&
              col("novel_ppm") >= minNovelPpm).cast("long"))
          .withColumn("bloom_sat_ppm", lit(satPpm))
        report.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(keptPath)
        // fold ADMITTED docs' grams into the standing bitmap; the
        // written report is the authoritative admission set, so the
        // fold reads it back (crash between the two writes replays
        // the whole batch: report overwrite + re-OR are idempotent)
        val admittedIds = spark.read.parquet(keptPath)
          .where(col("batch_id") === batchId && col("admitted") === 1)
          .select(col("doc_id"))
        val batchBloom = grams
          .join(admittedIds, Seq("doc_id"), "left_semi")
          .agg(graft.functions.BloomExpressions
            .bloomFilter(col("gh"), numBits, numHashes).as("bits"))
        val merged = standing.flatten match {
          case Some(st) => batchBloom.select(col("bits").as("__b"))
            .crossJoin(broadcast(st))
            .select(zip_with(col("__b"), col("bits"),
              (a, b) => a.bitwiseOR(b)).as("bits"))
          case None => batchBloom
        }
        merged.withColumn("last_batch", lit(batchId))
          .withColumn("gram_n", lit(n))
          .write.mode("overwrite").parquet(bTmp.toString)
        swapInTemp(fs, bPath, bTmp)
        }
        ()
    }
  }
}
