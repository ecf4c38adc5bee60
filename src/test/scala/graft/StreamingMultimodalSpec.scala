package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.streaming.Streaming
import graft.queries.RelationalQueries

class StreamingMultimodalSpec extends SparkSpec {

  import spark.implicits._

  private def t(h: Int) =
    java.sql.Timestamp.valueOf(f"2021-05-01 $h%02d:00:00")

  test("streaming X1 matches the batch recurrence across microbatches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Streaming.UdgReading]
    val q = Streaming.depthRecurrence(input.toDS(),
      Map("tdr1" -> -1.0))
      .writeStream.format("memory").queryName("x1out")
      .outputMode("append").start()
    // same series as the batch golden test, split across two batches
    input.addData(Streaming.UdgReading("tdr1", t(0), -1.0),
      Streaming.UdgReading("tdr1", t(1), -0.5))
    q.processAllAvailable()
    input.addData(Streaming.UdgReading("tdr1", t(2), 0.3),
      Streaming.UdgReading("tdr1", t(3), -0.2))
    q.processAllAvailable()
    val out = spark.table("x1out").orderBy("ts")
      .collect().map(_.getDouble(2)).toSeq
    q.stop()
    assert(out === Seq(-1.0, -0.5, 0.0, -0.5)) // == batch UdgDepthSpec
  }

  test("streaming X1 ≡ batch tdrDepth on the x1 fixture under " +
    "shuffled arrival within each microbatch") {
    // r17 verdict #5 (carried r16 #7): depthRecurrence's contract is
    // order-per-key OR re-sort-per-microbatch — the operator sorts
    // each batch's rows by ts before walking the recurrence, so
    // out-of-order arrival WITHIN a batch (the within-watermark case)
    // must not move a single output value. Microbatch boundaries cut
    // by TIME (late data past the watermark is a different contract,
    // documented on the operator).
    import graft.ops.Depths
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val installs = Seq(
      Depths.Install("tdr1",
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), -0.5),
      Depths.Install("tdr2",
        java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), -1.2))
    val udg = RelationalQueries.x1UdgSeries(spark, dir)
    val batch = Depths.tdrDepth(udg, "ts", "udg", installs)
      .select($"sensor", $"ts", round($"depth", 6).as("depth"))
      .as[(String, java.sql.Timestamp, Double)].collect().toSeq.sorted
    assert(batch.nonEmpty)
    // streaming input: per install, the series from its install time
    // on (the batch operator's crossJoin+filter, done upstream here)
    val series = udg.where($"udg".isNotNull)
      .as[(java.sql.Timestamp, Double)].collect().sortBy(_._1.getTime)
    val readings = installs.flatMap(i =>
      series.filter(_._1.getTime >= i.at.getTime)
        .map { case (ts, u) => Streaming.UdgReading(i.sensor, ts, u) })
    // three time-cut microbatches, each SHUFFLED deterministically
    // (multiplicative-hash order — scrambles ts order and interleaves
    // the two sensors)
    val cuts = readings.map(_.ts.getTime).distinct.sorted
    val (c1, c2) = (cuts(cuts.length / 3), cuts(2 * cuts.length / 3))
    def scramble(b: Seq[Streaming.UdgReading]) =
      b.sortBy(r => (r.ts.getTime * 2654435761L) ^ r.sensor.hashCode)
    val batches = Seq(
      scramble(readings.filter(_.ts.getTime <= c1)),
      scramble(readings.filter(r =>
        r.ts.getTime > c1 && r.ts.getTime <= c2)),
      scramble(readings.filter(_.ts.getTime > c2)))
    assert(batches.forall(_.nonEmpty))
    val input = MemoryStream[Streaming.UdgReading]
    val q = Streaming.depthRecurrence(input.toDS(),
      installs.map(i => i.sensor -> i.depthM).toMap)
      .writeStream.format("memory").queryName("x1shuffled")
      .outputMode("append").start()
    batches.foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("x1shuffled")
      .select($"sensor", $"ts", round($"depth", 6).as("depth"))
      .as[(String, java.sql.Timestamp, Double)].collect().toSeq.sorted
    assert(streamed === batch)
  }

  test("streaming quality gate gives every doc the batch student's " +
    "verdict; null text rejects") {
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the standing model exactly as a pipeline would load it: the
    // t115 artifact (bias travels as the __bias row)
    val model = SparkEntry.queries("t115_logreg_distill")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val bias = model.find(_._1 == "__bias").get._2
    val wts = model.filterNot(_._1 == "__bias").toSeq
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.qualityScoreStream(
      input.toDS().toDF("doc_id", "text", "source"), "text", wts, bias)
      .writeStream.format("memory").queryName("qualgate")
      .outputMode("append").start()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // split across two microbatches + one null-text row
    val (d1, d2) = docs.splitAt(docs.length / 2)
    input.addData(d1.toSeq: _*); q.processAllAvailable()
    input.addData(d2.toSeq :+ ((-1L, null.asInstanceOf[String], "sz")): _*)
    q.processAllAvailable(); q.stop()
    val out = spark.table("qualgate")
    assert(out.count() === docs.length + 1)
    val nullRow = out.where(col("doc_id") === -1L).collect()(0)
    assert(nullRow.isNullAt(nullRow.fieldIndex("score_ppm")))
    assert(nullRow.getBoolean(nullRow.fieldIndex("keep")) === false)
    // per-source keep counts must EQUAL the batch audit's student_pos
    // — the stream replays the batch integer arithmetic verdict for
    // verdict, so any divergence anywhere shifts a count
    val streamKeep = out.where(col("doc_id") >= 0L).groupBy("source")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("sp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val audit = SparkEntry.queries("t116_distill_audit")(spark, dir)
      .collect().map(r => r.getString(r.fieldIndex("source")) ->
        r.getLong(r.fieldIndex("student_pos"))).toMap
    assert(streamKeep === audit)
  }

  test("budget admission: strict-start cut, state carries across " +
    "batches, per-source isolation") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Streaming.BudgetDoc]
    val q = Streaming.budgetAdmitStream(input.toDS(), budget = 10L)
      .writeStream.format("memory").queryName("admitout")
      .outputMode("append").start()
    // batch 1, source a: 4 + 5 admitted (starts 0, 4); the third doc
    // STARTS at 9 < 10 so it is admitted even though it crosses the
    // budget (t95's strict-start rule) — used becomes 12
    input.addData(Streaming.BudgetDoc("a", 1, 4),
      Streaming.BudgetDoc("a", 2, 5), Streaming.BudgetDoc("a", 3, 3))
    q.processAllAvailable()
    // batch 2: source a is over budget (12 >= 10) → rejected even
    // for a tiny doc; source b's budget is untouched
    input.addData(Streaming.BudgetDoc("a", 4, 1),
      Streaming.BudgetDoc("b", 5, 7))
    q.processAllAvailable()
    val rows = spark.table("admitout")
      .orderBy("source", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    q.stop()
    assert(rows.toSeq === Seq(("a", 1L, 0L), ("a", 2L, 4L),
      ("a", 3L, 9L), ("b", 5L, 0L)))
  }

  test("streaming dedup keeps one row per timestamp") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val q = Streaming.dedupStream(
      input.toDS().toDF("ts", "v"), "ts")
      .writeStream.format("memory").queryName("dedupout")
      .outputMode("append").start()
    input.addData((t(0), 1.0), (t(0), 2.0), (t(1), 3.0))
    q.processAllAvailable()
    val n = spark.table("dedupout").count()
    q.stop()
    assert(n === 2)
  }

  test("streaming redaction rewrites contaminated spans, passes clean rows") {
    implicit val sc = spark.sqlContext
    // eval doc: the 8-token benchmark run; its window hashes are the
    // static side
    val evalText = "e1 e2 e3 e4 e5 e6 e7 e8"
    val evalHashes = Seq(evalText).toDF("text")
      .select(explode(graft.functions.SketchExpressions
        .windowHashes(graft.ops.TextOps.tokens(col("text")), 8)).as("w"))
      .select(col("w.gh").as("gh"))
    val input = MemoryStream[(Long, String)]
    val q = Streaming.redactStream(
      input.toDS().toDF("id", "text"), "text", evalHashes)
      .writeStream.format("memory").queryName("redactout")
      .outputMode("append").start()
    input.addData(
      (1L, s"c1 c2 $evalText c3"), // contaminated mid-document
      (2L, "clean tokens only here"), // clean: byte-identical passthrough
      (3L, null.asInstanceOf[String])) // null: survives as clean
    q.processAllAvailable()
    val out = spark.table("redactout")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    q.stop()
    assert(out(1L) === "c1 c2 c3")
    assert(out(2L) === "clean tokens only here")
    assert(out(3L) === null)
  }

  test("standing KMV source sketches equal one-shot sketches over all rows") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_sk").toString + "/sketches"
    val r1 = Seq(
      ("sA", "a b c d e f g h i j"),
      ("sB", "a b c d e f g h zz yy"))
    val r2 = Seq(
      ("sA", "k l m n o p q r s t"),
      ("sC", "only in c one batch"))
    val input = MemoryStream[(String, String)]
    val q = Streaming.sourceSketchStream(
      input.toDS().toDF("source", "text"), "text", "source", sink,
      n = 3, k = 8).start()
    // first batch yields ZERO sketch rows (doc shorter than n tokens):
    // the empty standing table it writes must not wedge later batches
    // (min(k) over no rows is null, not a readable int)
    input.addData(("sD", "x y")); q.processAllAvailable()
    input.addData(r1: _*); q.processAllAvailable()
    input.addData(r2: _*); q.processAllAvailable()
    q.stop()
    // KMV is a set sketch: the incrementally merged standing table must
    // EXACTLY equal the sketch computed in one pass over all rows —
    // idempotent/commutative merge, no drift across microbatches
    val standing = spark.read.parquet(sink)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val oneShot = graft.ops.Dedup.kmvSourceSketches(
      (r1 ++ r2).toDF("source", "text"), "text", "source", n = 3, k = 8)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(standing === oneShot)
    assert(standing.keySet === Set("sA", "sB", "sC"))
    // and the estimator runs off the standing table directly
    val est = graft.ops.Dedup.kmvOverlapEstimates(
      spark.read.parquet(sink), k = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("j_est")).toMap
    // sA/sB share the 6 grams of "a b c d e f g h" prefix windows
    assert(est(("sA", "sB")) > 0.0)
    assert(est(("sA", "sC")) === 0.0)
    // a k different from the one the sketches were built with must
    // error, not estimate garbage (k travels in the table)
    val kErr = intercept[Exception] {
      graft.ops.Dedup.kmvOverlapEstimates(
        spark.read.parquet(sink), k = 16).collect()
    }
    assert(kErr.getMessage.contains("different"))
    // and a restarted stream with a mismatched k fails on first merge
    val input2 = MemoryStream[(String, String)]
    val q2 = Streaming.sourceSketchStream(
      input2.toDS().toDF("source", "text"), "text", "source", sink,
      n = 3, k = 4).start()
    input2.addData(("sA", "w x y z"))
    val mErr = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    assert(mErr.getMessage.contains("rebuild") ||
      Option(mErr.getCause).exists(_.getMessage.contains("rebuild")))
  }

  test("streaming redaction: eval-set size guard and empty short-circuit") {
    implicit val sc = spark.sqlContext
    // oversized "eval" set (a mis-pointed corpus) fails LOUD at
    // stream-definition time, before any literal ships to tasks
    val big = Seq("a", "b", "c", "d").toDF("gh")
    val err = intercept[IllegalArgumentException] {
      Streaming.redactStream(
        MemoryStream[(Long, String)].toDS().toDF("id", "text"),
        "text", big, maxEvalHashes = 3)
    }
    assert(err.getMessage.contains("mis-pointed"))
    // empty eval set: passthrough plan — no per-row window hashing;
    // rows (including null text) come through byte-identical
    val input = MemoryStream[(Long, String)]
    val out = Streaming.redactStream(
      input.toDS().toDF("id", "text"), "text",
      Seq.empty[String].toDF("gh"))
    assert(!out.queryExecution.analyzed.toString.contains("graft_window_hashes"))
    val q = out.writeStream.format("memory").queryName("redactempty")
      .outputMode("append").start()
    input.addData((1L, "some tokens"), (2L, null.asInstanceOf[String]))
    q.processAllAvailable()
    val got = spark.table("redactempty")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    q.stop()
    assert(got === Map(1L -> "some tokens", 2L -> null))
  }

  test("foreachBatch append dedups against the sink across microbatches") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_ingest").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    // batch 1: two distinct docs + an in-batch duplicate of A
    input.addData((1L, "doc A"), (2L, "doc B"), (3L, "doc A"))
    q.processAllAvailable()
    // batch 2: a sink duplicate (A again) + a novel doc
    input.addData((4L, "doc A"), (5L, "doc C"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(sink)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out === Map(1L -> "doc A", 2L -> "doc B", 5L -> "doc C"))
  }

  test("frontierDedupStream: canonical-URL first-sighting across batches") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_frontier").toString + "/frontier"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.frontierDedupStream(
      input.toDS().toDF("disc_id", "url"), "disc_id", "url", sink)
      .start()
    // batch 1: one logical URL under two spellings + a distinct one
    input.addData(
      (1L, "https://www.Site.com:443/a/?utm_source=x"),
      (2L, "https://site.com/a"),
      (3L, "https://site.com/b"))
    q.processAllAvailable()
    // batch 2: a sink duplicate under a THIRD spelling + a novel URL
    // + two DISTINCT scheme-less strings — unparseable URLs pass
    // through as their own keys (each kept), they must NOT collapse
    // onto one degenerate key that swallows all later ones
    input.addData(
      (4L, "HTTPS://SITE.com/a#frag"),
      (5L, "https://site.com"),
      (6L, "//cdn.site.com/lib.js"),
      (7L, "/relative/path"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("disc_id") -> r.getAs[String]("canon_url"))
      .toMap
    assert(out === Map(
      1L -> "https://site.com/a", // min disc_id of the in-batch rivals
      3L -> "https://site.com/b",
      5L -> "https://site.com/",
      6L -> "//cdn.site.com/lib.js",
      7L -> "/relative/path"))
  }

  test("robotsGateStream: longest-match precedence within the row") {
    implicit val sc = spark.sqlContext
    val rules = (0 until 7).flatMap { g =>
      Seq((s"site$g.example.com", false, "/p/"),
        (s"site$g.example.com", true, "/p/1")) ++
        (if (g % 2 == 0)
          Seq((s"site$g.example.com", false, "/p/12")) else Nil)
    } ++ Seq(
      // RFC 9309 scope is the AUTHORITY: a non-default port is its
      // own robots scope with its own rules
      ("site0.example.com:8080", false, "/q/"),
      // a rule keyed by origin with the DEFAULT port must collapse
      // onto the port-less scope, not die unmatched
      ("site3.example.com:443", false, "/z/"))
    val input = MemoryStream[(Long, String)]
    val q = Streaming.robotsGateStream(
      input.toDS().toDF("id", "url"), "url", rules)
      .writeStream.format("memory").queryName("robots_gate")
      .outputMode("append").start()
    input.addData(
      (1L, "https://site0.example.com/p/5"),    // /p/ → block
      (2L, "https://site0.example.com/p/15"),   // /p/1 beats /p/ → allow
      (3L, "https://site0.example.com/p/125"),  // /p/12 beats /p/1 → block
      (4L, "https://site1.example.com/p/125"),  // odd host: /p/1 → allow
      (5L, "https://SITE1.example.com/p/19"),   // host match is case-blind
      (6L, "https://other.example.com/p/5"),    // no rules → allow
      // default :443 collapses onto the port-less scope → /p/ blocks
      (7L, "https://site0.example.com:443/p/5"),
      // the :8080 scope has its OWN rules: /q/ blocks there…
      (8L, "https://site0.example.com:8080/q/1"),
      // …and the port-less /p/ rules do NOT leak into it
      (9L, "https://site0.example.com:8080/p/5"),
      // userinfo is not part of the scope: still site0's /p/ → block
      (10L, "https://crawler@site0.example.com/p/5"),
      // the :443-keyed rule gates the port-less https URL → block
      (11L, "https://site3.example.com/z/1"),
      // …without leaking beyond its prefix
      (12L, "https://site3.example.com/y/1"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.sql("SELECT id FROM robots_gate")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 5L, 6L, 9L, 12L))
  }

  test("robotsGateStream: an empty path evaluates as '/' (RFC 9309) " +
    "and a null URL passes as a non-hit") {
    implicit val sc = spark.sqlContext
    val rules = Seq(("blocked.example.com", false, "/"))
    val input = MemoryStream[(Long, String)]
    val q = Streaming.robotsGateStream(
      input.toDS().toDF("id", "url"), "url", rules)
      .writeStream.format("memory").queryName("robots_gate2")
      .outputMode("append").start()
    input.addData(
      // ROOT URL, no trailing slash: the extracted path is "" —
      // unnormalized it matched no '/'-prefixed rule and even
      // disallow-all let the host root through
      (1L, "https://blocked.example.com"),
      (2L, "https://blocked.example.com/"),
      (3L, "https://open.example.com"),
      (4L, null.asInstanceOf[String])) // non-hit, not silently dropped
    q.processAllAvailable(); q.stop()
    val kept = spark.sql("SELECT id FROM robots_gate2")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L, 4L),
      s"root URLs must hit the '/' disallow; nulls pass: got $kept")
  }

  test("appendDedupedStream: a null-key row lands once, not once " +
    "per batch") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_nullkey").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    input.addData((1L, "real text"), (2L, null.asInstanceOf[String]))
    q.processAllAvailable()
    input.addData((3L, null.asInstanceOf[String]),
      (4L, "other text"))
    q.processAllAvailable()
    input.addData((5L, null.asInstanceOf[String]))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(sink)
    // a plain equi-anti-join never matches null keys: every batch
    // with a null-text row used to append another copy forever
    assert(rows.where(col("text").isNull).count() === 1,
      "the null key dedups like any other key (null-safe anti-join)")
    assert(rows.count() === 3)
  }

  test("dsirScoreStream scores a delta against the standing LM") {
    implicit val sc = spark.sqlContext
    import graft.ops.TextOps
    val sink = java.nio.file.Files
      .createTempDirectory("graft_dsir").toString + "/scores"
    // standing corpus: target domain talks about alpha/beta, the rest
    // about gamma/delta
    val corpus = Seq(
      ("tgt", "alpha beta alpha beta alpha"),
      ("web", "gamma delta gamma delta gamma"),
      ("web", "gamma gamma delta delta beta"))
      .toDF("source", "text")
    val (vocab, scalars) = TextOps.dsirLm(corpus, "text", "source", "tgt")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.dsirScoreStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text",
      vocab, scalars, sink).start()
    // target-like, corpus-like, half-OOV, and all-OOV-junk docs
    input.addData((1L, "alpha beta alpha"), (2L, "gamma delta gamma"),
      (3L, "alpha epsilon"), (4L, "zzz qqq"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Double]("dsir_logweight"))).toMap
    // twin equivalence: the stream's per-batch scores ARE the batch
    // operator's scores on the same rows
    val batch = TextOps.dsirScore(
      Seq((1L, "alpha beta alpha"), (2L, "gamma delta gamma"),
        (3L, "alpha epsilon"), (4L, "zzz qqq")).toDF("doc_id", "text"),
      "doc_id", "text", vocab, scalars).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Double]("dsir_logweight"))).toMap
    assert(got === batch)
    // direction: target-like scores above corpus-like
    assert(got(1L)._2 > 0 && got(2L)._2 < 0 && got(1L)._2 > got(2L)._2)
    // OOV tokens are NEUTRAL (0), never "target-like": the all-junk
    // doc scores exactly 0, and the half-OOV doc scores exactly half
    // the pure-alpha ratio (epsilon contributes 0 to the mean but
    // still counts in n_tok)
    assert(got(4L) === ((2L, 0.0)))
    assert(got(3L)._1 === 2L && got(3L)._2 > 0 && got(3L)._2 < got(1L)._2)
  }

  test("lmScoreStream scores a delta against the standing bigram LM") {
    implicit val sc = spark.sqlContext
    import graft.ops.TextOps
    val sink = java.nio.file.Files
      .createTempDirectory("graft_lmscore").toString + "/scores"
    // reference LM: English alpha-beta prose, French gamma-delta
    val ref = Seq(
      ("en", "alpha beta alpha beta alpha"),
      ("fr", "gamma delta gamma delta"))
      .toDF("lang", "text")
    val (bg0, ug0, vsz) = TextOps.bigramLm(ref, "lang", "text")
    val input = MemoryStream[(Long, String, String)]
    val q = Streaming.lmScoreStream(
      input.toDS().toDF("doc_id", "lang", "text"), "doc_id", "lang",
      "text", bg0, ug0, vsz, sink).start()
    // in-domain, OOV-heavy, cross-language (scored under ITS lang's
    // LM), unknown-language (dropped), and too-short (no bigram) docs
    input.addData((1L, "en", "alpha beta alpha"),
      (2L, "en", "zzz qqq www"), (3L, "fr", "gamma delta"),
      (4L, "zz", "alpha beta"), (5L, "en", "alpha"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("lm_lp")).toMap
    // twin equivalence: stream scores ARE the batch operator's scores
    val batch = TextOps.bigramLmScore(
      Seq((1L, "en", "alpha beta alpha"), (2L, "en", "zzz qqq www"),
        (3L, "fr", "gamma delta"), (4L, "zz", "alpha beta"),
        (5L, "en", "alpha")).toDF("doc_id", "lang", "text"),
      "doc_id", "lang", "text", bg0, ug0, vsz).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("lm_lp")).toMap
    assert(got === batch)
    // in-domain beats OOV junk; no-LM lang and bigramless docs drop
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) > got(2L))
  }

  test("hostRankStream maintains the rank artifact; replays are no-ops") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_hostrank").toString
    val (edges, ranks) = (base + "/edges", base + "/ranks")
    val input = MemoryStream[(String, String)]
    val q = Streaming.hostRankStream(
      input.toDS().toDF("src", "dst"), "src", "dst", edges, ranks,
      base + "/ckpt").start()
    input.addData(("a", "b"), ("a", "b"), ("b", "c"))
    q.processAllAvailable()
    input.addData(("c", "a"), ("a", "b"))
    q.processAllAvailable()
    q.stop()
    // artifact == the batch operator over the summed standing edges
    val expected = graft.ops.Graph.pageRankPpm(
      Seq(("a", "b", 3L), ("b", "c", 1L), ("c", "a", 1L))
        .toDF("src", "dst", "w"), "src", "dst", "w", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def readRanks() = spark.read.parquet(ranks).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(readRanks() === expected)
    // replaying batch 1 (same batchId, same data — the Structured
    // Streaming redelivery contract) overwrites its own partition:
    // standing edges and ranks must not change
    Streaming.foldHostRankBatch(
      Seq(("c", "a"), ("a", "b")).toDF("src", "dst"), 1L,
      "src", "dst", edges, ranks)
    assert(readRanks() === expected)
    // a NEW batch does change the fold (non-vacuity of the replay test)
    Streaming.foldHostRankBatch(
      Seq(("b", "a")).toDF("src", "dst"), 2L, "src", "dst", edges, ranks)
    assert(readRanks() !== expected)
  }

  test("foldHostRankBatch: empty first batch is safe; compaction bounds") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_hostrank2").toString
    val (edges, ranks) = (base + "/edges", base + "/ranks")
    // batch 0 is all self-citations → zero surviving edges: must not
    // kill the fold on schema inference, and must not publish ranks
    Streaming.foldHostRankBatch(
      Seq(("a", "a")).toDF("src", "dst"), 0L, "src", "dst", edges, ranks)
    assert(!new java.io.File(ranks).exists())
    // 6 more batches with compactAfter=3, keepRecent=2: partitions
    // beyond the recent window fold into batch_id=-1, the artifact
    // stays equal to the full-history rank, and the partition count
    // stays bounded
    (1L to 6L).foreach { i =>
      Streaming.foldHostRankBatch(
        Seq(("a", "b"), ("b", "c")).toDF("src", "dst"), i,
        "src", "dst", edges, ranks, compactAfter = 3, keepRecent = 2)
    }
    val expected = graft.ops.Graph.pageRankPpm(
      Seq(("a", "b", 6L), ("b", "c", 6L)).toDF("src", "dst", "w"),
      "src", "dst", "w", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = spark.read.parquet(ranks).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
    val parts = new java.io.File(edges).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(parts <= 4, s"compaction must bound partitions, saw $parts")
    assert(new java.io.File(edges + "/batch_id=-1").exists())
  }

  test("cdcMergeStream merges into touched buckets; replays converge") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft_cdc").toString + "/corpus"
    def state() = spark.read.parquet(base)
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val input = MemoryStream[(Long, String, String, Long)]
    val q = Streaming.cdcMergeStream(
      input.toDS().toDF("id", "v", "op", "seq"), base, "id", "op",
      "seq", base + "_ckpt", nBuckets = 4).start()
    // batch 0 bootstraps; batch 1 revises/deletes/inserts across
    // buckets (ids spread over pmod(xxhash64,4))
    input.addData((1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 1L), (4L, "d", "insert", 1L))
    q.processAllAvailable()
    assert(state() === Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    input.addData((2L, "b2", "update", 2L), (3L, "c", "delete", 2L),
      (9L, "z", "insert", 2L))
    q.processAllAvailable()
    q.stop()
    val want = Map(1L -> "a", 2L -> "b2", 4L -> "d", 9L -> "z")
    assert(state() === want)
    // SCD-1 replay: re-applying batch 1 against the merged base
    // converges to the same state (update rewrites, delete no-ops,
    // insert upserts) — no batch-id machinery needed
    Streaming.mergeCdcBatch(
      Seq((2L, "b2", "update", 2L), (3L, "c", "delete", 2L),
        (9L, "z", "insert", 2L)).toDF("id", "v", "op", "seq"),
      base, "id", "op", "seq", nBuckets = 4)
    assert(state() === want)
    // a STALE straggler (seq older than the standing row's) must lose
    // to the base — the stored __seq makes cross-batch ordering hold
    Streaming.mergeCdcBatch(
      Seq((2L, "bOLD", "update", 1L)).toDF("id", "v", "op", "seq"),
      base, "id", "op", "seq", nBuckets = 4)
    assert(state() === want,
      "a lower-seq straggler must not overwrite a newer standing row")
    // restarting with a different bucket count must fail loud, not
    // silently strand standing rows in unvisited partitions
    val e = intercept[IllegalArgumentException] {
      Streaming.mergeCdcBatch(
        Seq((2L, "x", "update", 9L)).toDF("id", "v", "op", "seq"),
        base, "id", "op", "seq", nBuckets = 8)
    }
    assert(e.getMessage.contains("nBuckets"))
    // a bucket fully emptied by deletes must drop its partition, not
    // leave stale rows behind the dynamic overwrite
    Streaming.mergeCdcBatch(
      want.keys.map(id => (id, "", "delete", 9L)).toSeq
        .toDF("id", "v", "op", "seq"),
      base, "id", "op", "seq", nBuckets = 4)
    val dirs = new java.io.File(base).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("__kb="))
    assert(dirs === 0, s"emptied buckets must be dropped, saw $dirs")
  }

  test("dataCardStream merges to the exact batch t105 card; null-text " +
    "groups survive the sketch explode") {
    implicit val sc = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "lang", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    val sink = java.nio.file.Files
      .createTempDirectory("datacard").toString + "/card"
    val input = MemoryStream[(String, String, Long, String)]
    val q = Streaming.dataCardStream(
      input.toDS().toDF("source", "lang", "n_chars", "text"),
      "text", "source", "lang", "n_chars", sink).start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    input.addData(b1.toSeq); q.processAllAvailable()
    input.addData(b2.toSeq); q.processAllAvailable()
    // a whole source of null text: empty sketch, null quality sums —
    // the merge's left-join path, not a crash
    input.addData(Seq(("s_null", "xx", 0L, null: String)))
    q.processAllAvailable()
    q.stop()
    val got = Streaming.readDataCard(spark, sink).collect()
      .map(r => r.getString(0) -> r).toMap
    // per-source distincts here are far under k=256, so the KMV term
    // is exact and the streamed card must EQUAL the batch card
    val want = SparkEntry.queries("t105_data_card")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getLong(5), r.getLong(6)))
    want.foreach { case (src, nDocs, nTok, dupPpm, topLang, mq, mc) =>
      val g = got(src)
      assert((g.getLong(1), g.getLong(2), g.getLong(3), g.getString(4),
        g.getLong(5), g.getLong(6)) ===
        ((nDocs, nTok, dupPpm, topLang, mq, mc)), s"source $src")
    }
    val nullRow = got("s_null")
    assert(nullRow.getLong(1) === 1L)       // n_docs counts the doc
    assert(nullRow.getLong(3) === 1000000L) // 0 distinct hashes ⇒ all-dup
    assert(nullRow.isNullAt(5))             // no quality signal ⇒ null mean
    // REPLAY: a second stream over the same sink runs on a fresh
    // checkpoint, so its batches renumber from 0 and re-deliver rows
    // already folded into the standing sums — the last_batch guard
    // must skip them (before the guard this double-counted n_docs and
    // every additive mean)
    val input2 = MemoryStream[(String, String, Long, String)]
    val q2 = Streaming.dataCardStream(
      input2.toDS().toDF("source", "lang", "n_chars", "text"),
      "text", "source", "lang", "n_chars", sink).start()
    input2.addData(b2.toSeq); q2.processAllAvailable()
    q2.stop()
    val replayed = Streaming.readDataCard(spark, sink).collect()
      .map(r => r.getString(0) -> r.toSeq).toMap
    assert(replayed === got.map { case (s2, r) => s2 -> r.toSeq },
      "a replayed (re-numbered) batch must not double-count the card")
  }

  test("dataCardStream k boundary: dup_ppm_est is EXACT below k and " +
    "error-bounded at and above it") {
    // The readDataCard ≡ batch-t105 claim holds "whenever per-source
    // distinct count < k" — sweep the boundary so the contract's edge
    // is pinned, not assumed. k = 8; distinct counts straddle it.
    implicit val sc = spark.sqlContext
    val k = 8
    val counts = Seq(4, 7, 8, 9, 16, 32)
    // each source: d distinct texts, each duplicated once (so the
    // exact distinct is d out of 2d docs -> true dup_ppm = 500000)
    val rows = counts.flatMap { d =>
      (0 until d).flatMap(i => Seq.fill(2)(
        (s"s$d", "xx", 10L, s"doc $d $i unique body " + ("t " * 8))))
    }
    val sink = java.nio.file.Files
      .createTempDirectory("cardk").toString + "/card"
    val input = MemoryStream[(String, String, Long, String)]
    val q = Streaming.dataCardStream(
      input.toDS().toDF("source", "lang", "n_chars", "text"),
      "text", "source", "lang", "n_chars", sink, k = k).start()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    input.addData(b1); q.processAllAvailable()
    input.addData(b2); q.processAllAvailable()
    q.stop()
    val card = Streaming.readDataCard(spark, sink).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap // dup_ppm_est
    counts.foreach { d =>
      val est = card(s"s$d")
      if (d < k)
        assert(est === 500000L,
          s"d=$d < k: sketch holds ALL hashes, estimate must be exact")
      else {
        // estimator regime: (k−1)/h_k on the union sketch. With k=8
        // the relative sd of the distinct estimate is ~1/sqrt(k-2)
        // ≈ 41%; est_uniq in [0.4d, 1.9d] ⇒ dup_ppm in [50000,
        // 800000]. Deterministic given md5 — the band cannot flake —
        // and a broken estimator (0 or 10^6) lands outside it.
        assert(est >= 50000L && est <= 800000L,
          s"d=$d >= k: dup_ppm_est $est outside the estimator band")
      }
    }
  }

  test("noveltyGateStream admits novel docs, rejects re-syndication, " +
    "folds ONLY admitted grams") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("novelty").toString + "/ng"
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.noveltyGateStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink,
      n = 4, numBits = 1 << 16, numHashes = 4,
      minNovelPpm = 500000L).start()
    // batch 0: two fully-novel docs
    input.addData((1L, words(0, 40)), (2L, words(100, 140)))
    q.processAllAvailable()
    // batch 1: 30 seen + 10 new tokens -> 10/37 grams novel (27%,
    // rejected); a fully new doc (admitted); a 3-token doc (< n, no
    // gram evidence, not admitted)
    val doc3 = words(0, 30) + " " + words(300, 310)
    input.addData((3L, doc3), (4L, words(200, 240)), (5L, "a b c"))
    q.processAllAvailable()
    // batch 2: copies of an ADMITTED doc (novelty 0 — its grams
    // folded) and of the REJECTED doc 3 — whose grams must NOT have
    // folded, so the copy re-measures doc 3's own 27%, not 0
    input.addData((6L, doc3), (7L, words(200, 240)))
    q.processAllAvailable()
    q.stop()
    val rep = spark.read.parquet(s"$sink/admitted").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("admitted"), r.getAs[Long]("novel_ppm")))).toMap
    assert(rep(1L) === ((1L, 1000000L)))
    assert(rep(2L) === ((1L, 1000000L)))
    assert(rep(4L) === ((1L, 1000000L)))
    assert(rep(5L) === ((0L, 0L)), "no gram evidence -> not admitted")
    assert(rep(3L)._1 === 0L, "27% novel must be rejected at 50%")
    assert(rep(3L)._2 === 1000000L * 10 / 37)
    assert(rep(6L) === ((0L, 1000000L * 10 / 37)),
      "rejected doc 3's grams must not have folded — its copy " +
        "re-measures the same novelty, not zero")
    assert(rep(7L) === ((0L, 0L)),
      "admitted doc 4's grams folded — its copy has zero novelty")
    // saturation observability: batch 0 probed no standing bitmap
    // (0 ppm); later batches report the folded bits, far below the
    // 50% alarm at this sizing
    val sat = spark.read.parquet(s"$sink/admitted")
      .select("doc_id", "bloom_sat_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sat(1L) === 0L)
    assert(sat(6L) > 0L && sat(6L) < 500000L)
  }

  test("semDedupStream drops near-dups within batches and vs the sink") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_semdedup").toString + "/vecs"
    // 4-dim toy space, two cells along axes 1 and 2
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("cid", "v")
    val e1 = Seq(1.0, 0.0, 0.0, 0.0)
    val e1n = Seq(1.0, 0.001, 0.0, 0.0) // cos(e1, e1n) ≈ 0.9999995
    val e2 = Seq(0.0, 1.0, 0.0, 0.0)
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Streaming.semDedupStream(
      input.toDS().toDF("vec_id", "v"), "vec_id", "v", cents, "cid",
      tau = 0.99, sinkPath = sink).start()
    // batch 1: an in-batch near-dup pair (keep-min keeps 10) + e2
    input.addData((10L, e1), (11L, e1n), (20L, e2))
    q.processAllAvailable()
    // batch 2: a near-dup of the STANDING vector 10 (smaller id — the
    // standing copy still wins) + a genuinely novel vector
    input.addData((5L, e1n), (21L, Seq(0.0, 0.8, 0.6, 0.0)))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    // kept: 10 (first of the batch-1 pair), 20, and the novel 21 —
    // 11 lost in-batch, 5 lost against the sink despite its smaller id
    assert(out === Map(10L -> 0L, 20L -> 1L, 21L -> 1L))
  }

  test("streaming redaction: bloom false positives pass through byte-identical") {
    implicit val sc = spark.sqlContext
    // a 64-bit k=1 bloom over a 40-window eval text sets ~half the
    // bits, so most clean docs are bloom-flagged — every one must
    // still come out byte-identical (incl. tabs / double spaces that
    // an unconditional token re-join would normalize away)
    val evalText = (1 to 47).map(i => s"e$i").mkString(" ")
    val evalHashes = Seq(evalText).toDF("text")
      .select(explode(graft.functions.SketchExpressions
        .windowHashes(graft.ops.TextOps.tokens(col("text")), 8)).as("w"))
      .select(col("w.gh").as("gh"))
    val cleanDocs = (1 to 40).map(i =>
      (i.toLong, s"p$i\tq$i  r$i s$i t$i u$i v$i w$i x$i y$i"))
    val input = MemoryStream[(Long, String)]
    val q = Streaming.redactStream(
      input.toDS().toDF("id", "text"), "text", evalHashes,
      numBits = 64, numHashes = 1)
      .writeStream.format("memory").queryName("redactfp")
      .outputMode("append").start()
    input.addData(cleanDocs: _*)
    q.processAllAvailable()
    val out = spark.table("redactfp")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    q.stop()
    cleanDocs.foreach { case (id, text) => assert(out(id) === text) }
  }

  test("streaming near-dup drops whitespace-variant duplicates md5 misses") {
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " * 4
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streaming.neardupStream(
      input.toDS().toDF("ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("neardupout")
      .outputMode("append").start()
    // a whitespace-variant duplicate: different raw bytes (md5 would
    // keep both) but identical token stream → identical simhash;
    // the unrelated doc lands on a different signature
    input.addData((t(0), base), (t(1), base.replace(" ", "  ").trim),
      (t(2), "completely different content about spark partitions " * 4))
    q.processAllAvailable()
    val n = spark.table("neardupout").count()
    q.stop()
    assert(n === 2)
  }

  test("streaming bloom decontamination: contaminated docs never pass") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val evalDocs = Seq(
      "what is the capital of france paris obviously",
      "compute the square root of a negative number")
    val evalGrams = evalDocs.toDF("text")
      .select(explode(graft.functions.SketchExpressions.wordShingles(
        graft.ops.TextOps.tokens($"text"), 3)).as("g")).distinct()
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streaming.decontaminateStream(
      input.toDS().toDF("ts", "text"), "text", evalGrams)
      .writeStream.format("memory").queryName("decontamout")
      .outputMode("append").start()
    input.addData(
      (t(0), "students asked what is the capital of france today"),
      (t(1), "an unrelated essay on alpine glacier hydrology and melt"),
      (t(2), "you must compute the square root of a negative number here"),
      (t(3), null.asInstanceOf[String])) // null text = not contaminated
    q.processAllAvailable()
    val kept = spark.table("decontamout").select("text")
      .collect().map(r => Option(r.getString(0))).toSet
    q.stop()
    // no false negatives: both benchmark-overlapping docs are gone;
    // the null-text row must NOT silently vanish from the keep side
    assert(kept.size === 2)
    assert(kept.flatten.forall(_.contains("glacier")))
    assert(kept.contains(None))
  }

  test("streaming blocklist gate drops docs citing blocked domains") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = Streaming.blocklistStream(
      input.toDS().toDF("ts", "text"), "text",
      Seq("bad.example.org", "spam.net"))
      .writeStream.format("memory").queryName("blockout")
      .outputMode("append").start()
    input.addData(
      (t(0), "cite https://bad.example.org/page in this doc"),
      (t(1), "a clean doc linking https://good.example.org/ref"),
      (t(2), "no urls at all here"),
      (t(3), null.asInstanceOf[String]), // null text = not blocked
      // case bypasses (RFC 4343 hostnames + uppercase scheme) must
      // still be caught
      (t(4), "see HTTPS://BAD.example.org/x for details"),
      (t(5), "and https://Spam.NET/y too"))
    q.processAllAvailable()
    val kept = spark.table("blockout").select("text")
      .collect().map(r => Option(r.getString(0))).toSet
    q.stop()
    assert(kept.size === 3)
    assert(!kept.flatten.exists(t =>
      t.toLowerCase.contains("bad.example.org") ||
        t.toLowerCase.contains("spam.net")))
    assert(kept.contains(None))
  }

  test("stream-static enrichment broadcast-joins the dimension per batch") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val weights = Seq(("web", 0.7), ("code", 0.3)).toDF("source", "weight")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.enrichStream(
      input.toDS().toDF("doc_id", "source"), weights, Seq("source"))
      .writeStream.format("memory").queryName("enrichout")
      .outputMode("append").start()
    input.addData((1L, "web"), (2L, "code"), (3L, "books"))
    q.processAllAvailable()
    val got = spark.table("enrichout")
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._2 -> r._3).toMap
    q.stop()
    assert(got(1L).contains(0.7) && got(2L).contains(0.3))
    assert(got(3L).isEmpty) // unmatched key survives the left join
  }

  test("streaming corpus clean: content dedup within watermark + quality gate") {
    implicit val sc = spark.sqlContext
    val good = ("the cat and the dog sat in the house and " * 4).trim
    val junk = "zzzz 1234 @@@@"
    // boilerplate trap: long + stopword-rich scores WELL on q_score,
    // but is near-pure repetition — only the compression gate sees it
    val boiler = ("the cat sat on the mat " * 300).trim
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Streaming.cleanCorpusStream(
      input.toDS().toDF("doc_id", "ts", "text"), "ts", "text",
      minQuality = 0.3, minCompress = 0.05)
      .writeStream.format("memory").queryName("corpusout")
      .outputMode("append").start()
    // duplicate content (different doc ids) + a low-quality doc
    input.addData((1L, t(0), good), (2L, t(0), good), (3L, t(1), junk),
      (4L, t(2), boiler))
    q.processAllAvailable()
    val rows = spark.table("corpusout").collect()
    q.stop()
    assert(rows.length === 1)          // dup dropped, junk + boiler gated
    assert(rows.head.getAs[Long]("doc_id") === 1L)
    assert(rows.head.getAs[String]("lang_pred") === "en")
    assert(rows.head.getAs[Double]("q_score") >= 0.3)
    assert(rows.head.getAs[Double]("c_ratio") >= 0.05)
  }

  test("streaming hourly agg emits a window once its watermark passes") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val q = Streaming.hourlyAgg(
      input.toDS().toDF("ts", "v"), "ts", "v")
      .writeStream.format("memory").queryName("hourlyout")
      .outputMode("append").start()
    input.addData((t(0), 1.0), (t(0), 3.0), (t(1), 10.0))
    q.processAllAvailable()
    // nothing emitted yet: watermark (max 01:00 − 2h) < any window end
    assert(spark.table("hourlyout").count() === 0)
    input.addData((t(4), 0.0)) // watermark → 02:00: closes hour 00 & 01
    q.processAllAvailable()
    val rows = spark.table("hourlyout").orderBy("hour").collect()
    q.stop()
    assert(rows.length === 2)
    assert(rows(0).getDouble(1) === 2.0 && rows(0).getLong(2) === 2L)
    assert(rows(1).getDouble(1) === 10.0 && rows(1).getLong(2) === 1L)
  }

  test("streaming session windows merge by gap and close on watermark") {
    implicit val sc = spark.sqlContext
    def m(min: Int) = java.sql.Timestamp.valueOf(
      f"2021-05-01 00:${min}%02d:00")
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val q = Streaming.sessionStats(
      input.toDS().toDF("user", "ts"), "ts", Seq("user"),
      gap = "10 minutes", watermark = "30 minutes")
      .writeStream.format("memory").queryName("sessout")
      .outputMode("append").start()
    // u1: events at 00,05,12 chain into one session (gaps < 10 min);
    // 40 is a separate session
    input.addData(("u1", m(0)), ("u1", m(5)), ("u1", m(12)), ("u1", m(40)))
    q.processAllAvailable()
    input.addData(("u2", java.sql.Timestamp.valueOf("2021-05-01 02:00:00")))
    q.processAllAvailable() // watermark 01:30 closes both u1 sessions
    val rows = spark.table("sessout").orderBy("session_start").collect()
    q.stop()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("n_events") === 3L)
    assert(rows(0).getAs[java.sql.Timestamp]("session_end") === m(22))
    assert(rows(1).getAs[Long]("n_events") === 1L)
  }

  test("multimodal: stub decode produces normalized fixed-dim features") {
    val rows = Seq(
      Row(1L, "image", Array[Byte](0, 1, 2, 3, 4, 5, 6, 7),
        Row(4, 2, null, 0L, "fake")),
      Row(2L, "audio", Array[Byte](10, 10, 10, 10),
        Row(null, null, 16000, 250L, "pcm")),
      Row(3L, "image", null, Row(1, 1, null, 0L, "fake")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 8).collect()
      .sortBy(_.id)
    assert(feats.length === 2) // null payload dropped
    assert(feats.forall(_.features.length === 8))
    // histogram of bytes 0..7 over dim 8: one hit per bucket, /8
    assert(feats(0).features.forall(f => math.abs(f - 0.125f) < 1e-6))
    // determinism
    val again = Multimodal.extractFeatures(df, dim = 8).collect()
      .sortBy(_.id)
    assert(again(0).features.toSeq === feats(0).features.toSeq)
  }

  test("multimodal: resizeImages box-pools real pixels, passes small " +
    "and undecodable rows through, and is deterministic") {
    def png(w: Int, h: Int)(color: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, color(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 100×60, left half red, right half blue → 50×30 keeps the split
    val big = png(100, 60)((x, _) => if (x < 50) 0xFF0000 else 0x0000FF)
    val small = png(8, 8)((_, _) => 0x00FF00)
    val rows = Seq(
      Row(1L, "image", big, Row(100, 60, null, 0L, "png")),
      Row(2L, "image", small, Row(8, 8, null, 0L, "png")),
      Row(3L, "image", Array[Byte](9, 9, 9), // undecodable
        Row(null, null, null, 0L, "junk")),
      Row(4L, "audio", Array[Byte](1, 2), // non-image modality
        Row(null, null, 16000, 250L, "pcm")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val out = Multimodal.resizeImages(df, 50, 50).collect()
      .map(r => r.getLong(0) -> r).toMap
    // aspect preserved: 100x60 fits 50x50 as 50x30
    assert(out(1L).getInt(4) === 50 && out(1L).getInt(5) === 30
      && out(1L).getBoolean(6))
    val rimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).getAs[Array[Byte]](2)))
    assert(rimg.getWidth === 50 && rimg.getHeight === 30)
    // box filter preserved pure regions (no interpolation bleed past
    // the cell that straddles the boundary)
    assert((rimg.getRGB(5, 15) & 0xFFFFFF) === 0xFF0000)
    assert((rimg.getRGB(45, 15) & 0xFFFFFF) === 0x0000FF)
    // already-inside-the-box image passes through BYTE-identical
    assert(out(2L).getAs[Array[Byte]](2).toSeq === small.toSeq)
    assert(out(2L).getInt(4) === 8 && !out(2L).getBoolean(6))
    // undecodable and non-image rows pass through, flagged
    assert(out(3L).getAs[Array[Byte]](2).toSeq === Seq[Byte](9, 9, 9))
    assert(out(3L).isNullAt(4) && !out(3L).getBoolean(6))
    assert(!out(4L).getBoolean(6))
    // deterministic pixels: a second pass produces identical payloads
    val again = Multimodal.resizeImages(df, 50, 50).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](2)).toMap
    assert(again(1L).toSeq === out(1L).getAs[Array[Byte]](2).toSeq)
  }

  test("multimodal: ImageIoKernel decodes a real PNG to width/height/histogram") {
    // 6×4 PNG: left half pure black, right half pure white
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6)
      img.setRGB(x, y, if (x < 3) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val rows = Seq(
      Row(1L, "image", png, Row(6, 4, null, 0L, "png")),
      Row(2L, "audio", Array[Byte](10, 10, 10, 10),
        Row(null, null, 16000, 250L, "pcm")),
      Row(3L, "image", Array[Byte](1, 2, 3), // not a decodable image
        Row(null, null, null, 0L, "junk")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 10,
      kernel = Multimodal.ImageIoKernel).collect().sortBy(_.id)
    assert(feats.length === 3)
    val f1 = feats(0).features
    assert(f1(0) === 6.0f && f1(1) === 4.0f) // real decoded dimensions
    // half the pixels land in the darkest luma bin, half in the lightest
    assert(math.abs(f1(2) - 0.5f) < 1e-6)
    assert(math.abs(f1(9) - 0.5f) < 1e-6)
    assert(math.abs(f1.drop(2).sum - 1.0f) < 1e-5) // normalized
    // non-image and undecodable payloads fall back to the byte histogram
    assert(feats(1).features.toSeq ===
      Multimodal.HistogramKernel.decode("audio",
        Array[Byte](10, 10, 10, 10), 10).toSeq)
    assert(feats(2).features.length === 10)
  }

  test("multimodal: AudioWavKernel decodes a real WAV to PCM moments") {
    // 0.5 s of a 440 Hz sine at 8 kHz mono, amplitude 0.5, written as
    // a real RIFF/WAVE file through javax.sound — the decode path then
    // re-reads it from bytes exactly as a payload column would arrive.
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    val sr = 8000f; val n = 4000
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (0.5 * math.sin(2 * math.Pi * 440 * i / sr) * 32767).toInt
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(sr, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
        n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val rows = Seq(
      Row(1L, "audio", wav, Row(null, null, 8000, 500L, "wav")),
      Row(2L, "audio", Array[Byte](1, 2, 3), // not decodable audio
        Row(null, null, null, 0L, "junk")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 10,
      kernel = Multimodal.AudioWavKernel).collect().sortBy(_.id)
    val f = feats(0).features
    assert(f(0) === 8000.0f && f(1) === 1.0f && f(2) === 4000.0f)
    assert(math.abs(f(3)) < 0.01) // sine mean ≈ 0
    assert(math.abs(f(4) - 0.5f / math.sqrt(2).toFloat) < 0.01) // rms
    // 440 Hz over 0.5 s = 220 periods, 2 crossings each
    assert(math.abs(f(5) - 440.0f / 3999.0f) < 0.01)
    assert(math.abs(f.drop(6).sum - 1.0f) < 1e-5) // histogram normalized
    // amplitude ±0.5 → the outer bins of [−1,1] stay empty
    assert(f(6) === 0.0f && f(9) === 0.0f)
    // undecodable audio falls back to the byte histogram
    assert(feats(1).features.toSeq ===
      Multimodal.HistogramKernel.decode("audio", Array[Byte](1, 2, 3),
        10).toSeq)
    // non-audio modalities delegate to the image kernel unchanged
    assert(Multimodal.AudioWavKernel.decode("image", Array[Byte](9), 10)
      .toSeq === Multimodal.ImageIoKernel.decode("image", Array[Byte](9),
        10).toSeq)
  }

  test("multimodal: Mp4MetaKernel parses a real ISO-BMFF container") {
    // A minimal but spec-shaped MP4 built box-by-box (ISO/IEC 14496-12):
    // ftyp + moov(mvhd + video trak(hdlr/stsd avc1 640×360)
    //            + audio trak(hdlr/stsd mp4a 2ch 48kHz)) + mdat.
    // The builder shares no code with the parser.
    def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      java.nio.ByteBuffer.allocate(8 + body.length)
        .putInt(8 + body.length).put(typ.getBytes("US-ASCII"))
        .put(body).array()
    }
    def fill(n: Int)(set: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n); set(b); b.array()
    }
    val mvhd = box("mvhd", fill(100) { b => // v0: ts@12, dur@16
      b.putInt(12, 1000); b.putInt(16, 2500) })
    def hdlr(h: String) = box("hdlr", fill(25) { b =>
      b.position(8); b.put(h.getBytes("US-ASCII")) })
    val avc1 = fill(86) { b => // visual sample entry: w@32, h@34
      b.putInt(0, 86); b.position(4); b.put("avc1".getBytes("US-ASCII"))
      b.putShort(32, 640.toShort); b.putShort(34, 360.toShort) }
    val mp4a = fill(36) { b => // audio entry: ch@24, rate 16.16@32
      b.putInt(0, 36); b.position(4); b.put("mp4a".getBytes("US-ASCII"))
      b.putShort(24, 2.toShort); b.putShort(26, 16.toShort)
      b.putInt(32, 48000 << 16) }
    def stsd(entry: Array[Byte]) = box("stsd", fill(8) { b =>
      b.putInt(4, 1) }, entry)
    def trak(h: String, entry: Array[Byte]) = box("trak",
      box("tkhd", new Array[Byte](84)),
      box("mdia", hdlr(h), box("minf", box("stbl", stsd(entry)))))
    val mp4 = box("ftyp", "isomiso2".getBytes("US-ASCII")) ++
      box("moov", mvhd, trak("vide", avc1), trak("soun", mp4a)) ++
      box("mdat", Array[Byte](1, 2, 3, 4))
    val f = Multimodal.Mp4MetaKernel.decode("video", mp4, 12)
    assert(f(0) === 2500.0f) // mvhd duration 2500/1000 ticks → ms
    assert(f(1) === 2.0f) // two tracks
    assert(f(2) === 640.0f && f(3) === 360.0f) // stsd coded size
    assert(f(4) === 48000.0f && f(5) === 2.0f) // audio rate/channels
    assert(f(6) === 1.0f && f(7) === 1.0f) // has video + audio
    assert(math.abs(f.drop(8).sum - 1.0f) < 1e-5) // histogram tail
    // mvhd all-ones duration = "unknown" (fMP4/live): parses, but the
    // duration feature reports 0 rather than a ~50-day garbage value
    val unkMvhd = box("mvhd", fill(100) { b =>
      b.putInt(12, 1000); b.putInt(16, -1) }) // 0xFFFFFFFF
    val unk = box("ftyp", "isomiso2".getBytes("US-ASCII")) ++
      box("moov", unkMvhd, trak("vide", avc1))
    val fu = Multimodal.Mp4MetaKernel.decode("video", unk, 12)
    assert(fu(0) === 0.0f && fu(1) === 1.0f && fu(6) === 1.0f)
    // non-MP4 / truncated payloads fall back to the byte histogram
    assert(Multimodal.Mp4MetaKernel.decode("video",
      Array[Byte](1, 2, 3), 12).toSeq ===
      Multimodal.HistogramKernel.decode("video", Array[Byte](1, 2, 3),
        12).toSeq)
    assert(Multimodal.Mp4MetaKernel.decode("video",
      mp4.take(40), 12).toSeq ===
      Multimodal.HistogramKernel.decode("video", mp4.take(40),
        12).toSeq)
    // non-video modalities delegate down the kernel chain unchanged
    assert(Multimodal.Mp4MetaKernel.decode("image", Array[Byte](9), 12)
      .toSeq === Multimodal.AudioWavKernel.decode("image",
        Array[Byte](9), 12).toSeq)
    // end-to-end through the partition-batch path
    val rows = Seq(Row(1L, "video", mp4,
      Row(640, 360, 48000, 2500L, "mp4")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 12,
      kernel = Multimodal.Mp4MetaKernel).collect()
    assert(feats.head.features.toSeq === f.toSeq)
  }

  test("multimodal: meta-only stats and frame sampling") {
    val rows = Seq(
      Row(1L, "video", Array[Byte](1), Row(640, 480, null, 1000L, "v")),
      Row(2L, "video", Array[Byte](2), Row(1280, 720, null, 2000L, "v")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val stats = Multimodal.metaStats(df).head()
    assert(stats.getAs[Long]("n") === 2)
    assert(stats.getAs[Double]("avg_width") === 960.0)
    val frames = Multimodal.sampleFrames(df, 4)
    assert(frames.count() === 8)
    val idx = frames.where($"id" === 1L).select("frame_idx")
      .collect().map(_.getLong(0)).toSeq
    assert(idx === Seq(0L, 250L, 500L, 750L))
  }

  /** Render a 9×8-cell pattern as a PNG, each cell a `block`×`block`
    * square of the constant gray level pattern(y)(x) — so the dHash
    * average-pooled grid recovers the pattern EXACTLY (graylevel
    * (v,v,v) has integer luma v: (299+587+114)v/1000 = v). */
  private def patternPng(pattern: Array[Array[Int]], block: Int)
      : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9 * block, 8 * block,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8 * block; x <- 0 until 9 * block) {
      val v = pattern(y / block)(x / block)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("multimodal: videoFrameDHash decodes REAL pixels from " +
    "MJPEG-in-AVI, one dHash per frame in the still-image hash space") {
    def u32le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte)
        else Array.empty[Byte]
      cc.getBytes("US-ASCII") ++ u32le(body.length) ++ body ++ pad
    }
    // three JPEG frames with visibly different gradients
    def jpeg(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = ((x * seed + y * (4 - seed)) * 2) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val frames = Seq(jpeg(1), jpeg(2), jpeg(3))
    // RIFF('AVI ') → LIST('movi') → one '00dc' chunk per frame, plus
    // a non-video chunk ('01wb' audio) that must not decode
    val movi = "movi".getBytes("US-ASCII") ++
      frames.flatMap(f => chunk("00dc", f)) ++
      chunk("01wb", Array.fill[Byte](17)(3))
    val avi = chunk("RIFF",
      "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi))

    import spark.implicits._
    val df = Seq(
      (1L, "video", avi),
      (2L, "video", Array.fill[Byte](64)(7)),      // not a RIFF
      (3L, "video", avi.take(40)),                 // truncated mid-chunk
      (4L, "image", frames.head))                  // wrong modality
      .toDF("id", "modality", "payload")
    val out = Multimodal.videoFrameDHash(df)
      .orderBy("id", "frame_idx").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 1L, 1L),
      "exactly the 3 MJPEG frames of the real AVI decode")
    assert(out.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    // frame hashes live in the SAME space as still-image dHash —
    // a reposted keyframe thumbnail collides with its frame
    out.zip(frames).foreach { case (r, jpg) =>
      assert(r.getLong(2) === Multimodal.dHash64(jpg).get)
    }
    // the three gradients hash differently (real pixels, not a stub)
    assert(out.map(_.getLong(2)).distinct.length === 3)
    // determinism
    val again = Multimodal.videoFrameDHash(df)
      .orderBy("id", "frame_idx").collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("multimodal: dHash is brightness/scale-invariant; band join finds near-dups") {
    // base: luma strictly increasing left→right in every row → every
    // adjacent comparison is "<" → all 64 bits set
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    // +20 uniform brightness: every comparison unchanged
    val bright = base.map(_.map(_ + 20))
    // reversed: strictly decreasing → all bits clear (Hamming 64)
    val reversed = Array.tabulate(8, 9)((y, x) => (8 - x) * 10 + y)
    // one flipped comparison: cell (0,0) raised above cell (0,1)
    val oneOff = base.map(_.clone())
    oneOff(0)(0) = 15 // 15 > 10 = cell (0,1) → bit (0,0) flips
    val pngBase = patternPng(base, 2)       // 18×16
    val pngBright = patternPng(bright, 2)
    val pngScaled = patternPng(base, 4)     // 36×32: 2× upscale
    val pngRev = patternPng(reversed, 2)
    val pngOne = patternPng(oneOff, 2)

    val hBase = Multimodal.dHash64(pngBase).get
    assert(hBase === -1L) // all comparisons increasing
    assert(Multimodal.dHash64(pngBright).get === hBase)
    assert(Multimodal.dHash64(pngScaled).get === hBase)
    assert(Multimodal.dHash64(pngRev).get === 0L)
    assert(java.lang.Long.bitCount(
      Multimodal.dHash64(pngOne).get ^ hBase) === 1)
    assert(Multimodal.dHash64(Array[Byte](1, 2, 3)) === None)
    // recognized-but-corrupt payload (PNG magic, truncated body):
    // decoder throws — must drop, not propagate
    assert(Multimodal.dHash64(pngBase.take(30)) === None)

    val rows = Seq(
      Row(1L, "image", pngBase, Row(18, 16, null, 0L, "png")),
      Row(2L, "image", pngBright, Row(18, 16, null, 0L, "png")),
      Row(3L, "image", pngScaled, Row(36, 32, null, 0L, "png")),
      Row(4L, "image", pngRev, Row(18, 16, null, 0L, "png")),
      Row(5L, "image", pngOne, Row(18, 16, null, 0L, "png")),
      Row(6L, "audio", pngBase, Row(null, null, 8000, 0L, "wav")),
      Row(7L, "image", Array[Byte](9, 9), Row(null, null, null, 0L, "x")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val hashed = Multimodal.imageDHash(df)
    // non-image (6) and undecodable (7) rows drop in the decode pass
    assert(hashed.count() === 5)
    val pairs = Multimodal.phashNearDup(hashed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(p => (p._1, p._2))
    // {1,2,3} identical; 5 at Hamming 1 from each; 4 nowhere near
    assert(pairs.toSeq === Seq(
      (1L, 2L, 0), (1L, 3L, 0), (1L, 5L, 1),
      (2L, 3L, 0), (2L, 5L, 1), (3L, 5L, 1)))
    // the guarantee bound is enforced, not silently degraded
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDup(hashed, maxDist = 10)
    }
    // clusters: {1,2,3,5} connect (via the Hamming-1 bridge), 4 is a
    // self-labeled singleton — same CC semantics as the text path
    val clusters = Multimodal.phashClusters(hashed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      4L -> 4L))
  }

  test("multimodal: readImages ingests a directory end-to-end into dHash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imgs")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    put("a.png", patternPng(base, 2))
    put("b.png", patternPng(base.map(_.map(_ + 7)), 2)) // near-dup of a
    put("c.PNG", patternPng(base, 4)) // uppercase ext must still ingest
    put("notes.txt", "not an image".getBytes) // filtered by glob
    put("broken.png", Array[Byte](1, 2, 3))   // decode-drops
    val ingested = Multimodal.readImages(spark, dir.toString)
    assert(ingested.count() === 4) // txt never scanned; .PNG included
    assert(ingested.select("modality").distinct().head().getString(0)
      === "image")
    assert(ingested.select("meta.format").distinct().head().getString(0)
      === "png") // format lowercased either way
    // ids deterministic across reads
    val ids1 = ingested.select("id").collect().map(_.getLong(0)).sorted
    val ids2 = Multimodal.readImages(spark, dir.toString)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq === ids2.toSeq && ids1.distinct.length === 4)
    // end-to-end: ingest → decode-hash (broken.png drops) → one cluster
    val hashed = Multimodal.imageDHash(ingested)
    assert(hashed.count() === 3)
    val cl = Multimodal.phashClusters(hashed)
      .select("cluster").distinct().collect()
    assert(cl.length === 1)
  }

  test("multimodal: live image path — readImageStream feeds the phash-dedup sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imgstream")
    val sink = java.nio.file.Files
      .createTempDirectory("graft_imgsink").toString + "/images"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_imgckpt").toString
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    put("a.png", patternPng(base, 2))
    put("b.png", patternPng(base.map(_.map(_ + 9)), 2)) // same dHash as a
    val q = Streaming.imageDedupStream(
      Multimodal.readImageStream(spark, dir.toString), sink)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    assert(spark.read.parquet(sink).count() === 1) // brightness twin deduped
    // new files land: a scaled twin (dup vs the SINK), a genuinely new
    // image, a non-image (glob-filtered), a corrupt image (decode-drop)
    put("c.png", patternPng(base, 4))
    put("d.png", patternPng(
      Array.tabulate(8, 9)((y, x) => (8 - x) * 10 + y), 2))
    put("e.txt", "not an image".getBytes)
    put("f.png", Array[Byte](3, 1, 4))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sink)
    assert(rows.count() === 2)
    assert(rows.select("phash").distinct().count() === 2)
    // the sink kept real payload rows (8-byte key + original columns)
    assert(rows.columns.contains("payload") &&
      rows.columns.contains("path"))
  }

  test("multimodal: audio envelope hash is gain-invariant and clusters near-dups") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    // 1 s at 8 kHz whose |amplitude| ramps linearly (constant-sign
    // samples — a sine's per-window mean fluctuates with partial
    // periods and can exceed the ~1.5% ramp step): the 65-window
    // envelope is strictly increasing → all 64 bits set
    def wav(gain: Double, rampUp: Boolean): Array[Byte] = {
      val sr = 8000f; val n = 8000
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val pos = if (rampUp) i else n - 1 - i
        val s = (gain * pos / n * 32767).toInt
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm),
        new AudioFormat(sr, 16, 1, true, false), n.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val loud = wav(0.8, rampUp = true)
    val quiet = wav(0.4, rampUp = true) // half gain: same comparisons
    val fading = wav(0.8, rampUp = false) // reversed envelope
    val h = Multimodal.audioEnvHash64(loud).get
    assert(h === -1L)
    assert(Multimodal.audioEnvHash64(quiet).get === h)
    assert(Multimodal.audioEnvHash64(fading).get === 0L)
    assert(Multimodal.audioEnvHash64(Array[Byte](1, 2)) === None)
    val rows = Seq(
      Row(1L, "audio", loud, Row(null, null, 8000, 1000L, "wav")),
      Row(2L, "audio", quiet, Row(null, null, 8000, 1000L, "wav")),
      Row(3L, "audio", fading, Row(null, null, 8000, 1000L, "wav")),
      Row(4L, "image", loud, Row(null, null, null, 0L, "png")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val hashed = Multimodal.audioEnvHash(df)
    assert(hashed.count() === 3) // non-audio row skipped
    // the SAME band join + CC serve audio: {1,2} cluster, 3 singleton
    val clusters = Multimodal.phashClusters(hashed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("compactSink rewrites the append sink without changing content") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val sink = java.nio.file.Files
      .createTempDirectory("graft_compact").toString + "/docs"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    // several appends → several part-file generations
    (1 to 4).foreach { b =>
      input.addData((b * 10L, s"doc $b"), (b * 10L + 1, s"doc $b dup base"))
      q.processAllAvailable()
    }
    def parts() = new java.io.File(sink).listFiles()
      .count(f => f.getName.startsWith("part-"))
    val before = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(parts() > 2)
    Streaming.compactSink(spark, sink, targetFiles = 2)
    assert(parts() <= 2)
    val after = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(after === before)
    // the sink keeps serving the dedup contract after the swap
    input.addData((99L, "doc 1"), (100L, "fresh content"))
    q.processAllAvailable()
    q.stop()
    val fin = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(fin.contains(100L) && !fin.contains(99L)) // dup still caught
    // compacting an empty path is a no-op, not an error
    Streaming.compactSink(spark, sink + "_nothere")
  }

  test("append sink recovers the compaction crash window (orphan temp)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val sink = java.nio.file.Files
      .createTempDirectory("graft_orphan").toString + "/docs"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    input.addData((1L, "historic doc"))
    q.processAllAvailable()
    // simulate compactSink dying between delete-old and rename: the
    // whole corpus sits in the sibling __tmp (complete, has _SUCCESS)
    // and the sink is gone
    assert(new java.io.File(sink)
      .renameTo(new java.io.File(sink + "__tmp")))
    // the NEXT batch must promote the orphan before its has-data
    // probe — otherwise it bootstraps a fresh sink, strands the
    // history, and re-admits the duplicate
    input.addData((2L, "historic doc"), (3L, "new doc"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(rows === Set((1L, "historic doc"), (3L, "new doc")))
    assert(!new java.io.File(sink + "__tmp").exists())
  }

  test("multimodal: dHash brightness invariance holds on random patterns") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      // random 9×8 pattern, values 0..199; +δ stays within 0..255
      val p = Array.fill(8, 9)(rnd.nextInt(200))
      val delta = 1 + rnd.nextInt(55)
      val block = 1 + rnd.nextInt(3)
      val h = Multimodal.dHash64(patternPng(p, block))
      // uniform brightness shift: every adjacent comparison unchanged
      assert(Multimodal.dHash64(
        patternPng(p.map(_.map(_ + delta)), block)) === h)
      // integer block upscale: pooling recovers the same grid
      assert(Multimodal.dHash64(patternPng(p, block * 2)) === h)
    }
  }

  test("lineDedupStream drops standing boilerplate lines in-row") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // 10-token pseudo-lines; B is the cross-document boilerplate
    val lineB = (1 to 10).map(i => s"boiler$i").mkString(" ")
    val uniq1 = (1 to 10).map(i => s"one$i").mkString(" ")
    val uniq2 = (1 to 10).map(i => s"two$i").mkString(" ")
    // the standing set the batch line-df pass would produce: df>1 lines
    val boiler = Seq(lineB).toDF("line")
      .select(md5($"line").as("lh"))
    val input = MemoryStream[(Long, String)]
    val q = Streaming.lineDedupStream(
      input.toDS().toDF("doc_id", "text"), "text", boiler)
      .writeStream.format("memory").queryName("linededup")
      .outputMode("append").start()
    input.addData(
      (1L, s"$lineB $uniq1"),        // boilerplate head stripped
      (2L, s"$uniq2 $lineB"),        // boilerplate tail stripped
      (3L, lineB),                   // all-boilerplate → dropped
      (4L, null.asInstanceOf[String])) // null passthrough
    q.processAllAvailable()
    val got = spark.table("linededup")
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    q.stop()
    assert(got === Map(1L -> Some(uniq1), 2L -> Some(uniq2), 4L -> None))
    // empty standing set keeps every chunk — same normalize path as
    // the non-empty case (NOT a passthrough: output text must hash
    // identically across microbatches whatever the set's size)
    val none = Streaming.lineDedupStream(
      Seq((9L, s"$lineB x")).toDF("doc_id", "text"), "text",
      boiler.where(lit(false)))
    assert(none.head().getString(2) === s"$lineB x")
    // multi-space input: normalized identically with empty AND
    // non-empty sets (the cross-batch hash-stability contract)
    val spaced = Seq((10L, "a  b\tc")).toDF("doc_id", "text")
    assert(Streaming.lineDedupStream(spaced, "text",
      boiler.where(lit(false))).head().getString(2) === "a b c")
    assert(Streaming.lineDedupStream(spaced, "text", boiler)
      .head().getString(2) === "a b c")
    // a corpus-sized "boilerplate" frame fails loud, before collect
    intercept[IllegalArgumentException] {
      Streaming.lineDedupStream(
        Seq((1L, "x")).toDF("doc_id", "text"), "text",
        spark.range(20).select(md5($"id".cast("string")).as("lh")),
        maxHashes = 10)
    }
  }

  test("classifierScoreStream scores map-side against the standing model") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    def bucket(f: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(f.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(2)
    // model trained on the positive-seed features of "alpha beta":
    // unigrams + the bigram, fixed purity 900000 ppm
    val seedFeats = Seq("alpha", "beta", "alpha beta")
    val model = seedFeats.map(f => (bucket(f), 900000L)).distinct
      .toDF("b", "w_ppm")
    val wmap = seedFeats.map(f => bucket(f) -> 900000L).toMap
    // sequential reference: same integer semantics as the batch t81
    def ref(text: String): (Long, Option[Long]) = {
      val toks = text.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").toSeq
      val feats = toks ++
        toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val present = feats.filter(f => wmap.contains(bucket(f)))
      if (present.isEmpty) (0L, None)
      else (present.size.toLong,
        Some(present.map(f => wmap(bucket(f))).sum / present.size))
    }
    val input = MemoryStream[(Long, String)]
    val q = Streaming.classifierScoreStream(
      input.toDS().toDF("doc_id", "text"), "text", model)
      .writeStream.format("memory").queryName("clfout")
      .outputMode("append").start()
    val texts = Map(1L -> "alpha beta alpha", 2L -> "alpha", 5L -> "")
    input.addData((1L, texts(1L)), (2L, texts(2L)),
      (3L, null.asInstanceOf[String]), (5L, texts(5L)))
    q.processAllAvailable()
    val got = spark.table("clfout").collect().map(r =>
      r.getLong(0) -> ((r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    q.stop()
    texts.foreach { case (id, t) =>
      val (nf, sc2) = ref(t)
      // "" tokenizes to [""] whose bucket the model may or may not
      // contain — the reference computes whatever is right
      assert(got(id)._1 === nf, s"doc $id n_feats")
      assert(got(id)._2 === sc2, s"doc $id score")
    }
    assert(got(3L) === ((0L, None))) // null text: kept, null score
    assert(got(1L)._2.contains(900000L))
    intercept[IllegalArgumentException] {
      Streaming.classifierScoreStream(
        Seq((1L, "x")).toDF("doc_id", "text"), "text",
        model.where(lit(false)))
    }
  }
  test("multimodal: visual dedup COMPOSES video frames with stills — " +
    "a reposted keyframe clusters its video with the thumbnail " +
    "(batch) and gates on the live path") {
    def u32le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte)
        else Array.empty[Byte]
      cc.getBytes("US-ASCII") ++ u32le(body.length) ++ body ++ pad
    }
    def jpegPattern(pattern: Array[Array[Int]], block: Int)
        : Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9 * block, 8 * block,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8 * block; x <- 0 until 9 * block) {
        val v = pattern(y / block)(x / block)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val movi = "movi".getBytes("US-ASCII") ++
        frames.flatMap(f => chunk("00dc", f))
      chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi))
    }
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    val other = Array.tabulate(8, 9)((y, x) => (8 - x) * 10 + y)
    val key = jpegPattern(base, 2)          // the keyframe
    val thumb = jpegPattern(base, 4)        // reposted 2x-rescaled thumb
    val filler = jpegPattern(other, 2)      // second frame, different
    val video = avi(Seq(key, filler))

    // ---- batch: frames UNION stills -> ONE cluster across media ----
    val df = Seq(
      (1L, "video", video),
      (2L, "image", thumb),                 // must cluster with video 1
      (3L, "image", jpegPattern(other.map(_.map(v => v + 12)), 2)))
      .toDF("id", "modality", "payload")
    val cl = Multimodal.visualClusters(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.keySet === Set(1L, 2L, 3L))
    assert(cl(1L) === cl(2L),
      s"reposted keyframe did not cluster with its video: $cl")
    // id 3 near-dups video 1's SECOND frame (brightness twin of
    // `other`) -> any-frame semantics pull it into the same cluster
    assert(cl(3L) === cl(1L),
      s"second-frame collision missed (any-frame semantics): $cl")
    // a genuinely unrelated still stays alone
    val solo = Array.tabulate(8, 9)((y, x) =>
      if ((x + y) % 2 == 0) 30 else 200)
    val df2 = df.union(Seq((4L, "image", jpegPattern(solo, 2)))
      .toDF("id", "modality", "payload"))
    val cl2 = Multimodal.visualClusters(df2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl2(4L) !== cl2(1L), s"unrelated still joined the cluster: $cl2")

    // ---- live: video keyframe gates against an already-seen still --
    implicit val sqlCtx = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_vsink").toString + "/visual"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_vckpt").toString
    val in = MemoryStream[(Long, String, Array[Byte])]
    val q = Streaming.imageDedupStream(
      in.toDF.toDF("id", "modality", "payload"), sink)
      .option("checkpointLocation", ckpt).start()
    in.addData((10L, "image", key)) // the still lands first
    q.processAllAvailable()
    assert(spark.read.parquet(sink).count() === 1)
    // the video reposts the same keyframe -> equality-gated away;
    // a video with a NEW keyframe is kept, with its frame hash
    in.addData((11L, "video", video), (12L, "video", avi(Seq(filler))))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sink).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(10L, 12L),
      s"live gate kept ${rows.map(_.getLong(0)).toSeq}")
    // the kept video row carries its keyframe hash in the SAME space
    val vrow = rows.find(_.getLong(0) == 12L).get
    assert(vrow.getAs[Long]("phash") === Multimodal.dHash64(filler).get)
  }
}

