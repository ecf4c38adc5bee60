package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Degenerate-input behavior: empty tables, single rows, all-null
  * columns. At 100 TB these cases appear constantly as partitions or
  * key-slices, so operators must return empty/null results — never
  * throw. */
class EdgeCaseSpec extends SparkSpec {

  import spark.implicits._

  private val emptyEvents = Seq.empty[(Long, java.sql.Timestamp, Double)]
    .toDF("user_id", "ts", "v")

  test("dedup, sessionization and windows accept empty input") {
    assert(Cleaning.dedupKeepFirst(emptyEvents, Seq("user_id"),
      Seq(col("ts"))).count() === 0)
    assert(Sessions.sessionStats(emptyEvents, "ts", Seq("user_id"),
      gapSec = 60).count() === 0)
    assert(Windows.ffillLimited(emptyEvents, "v", "ts", Seq("user_id"),
      limit = 2).count() === 0)
    assert(Windows.interpolateLinear(emptyEvents, "v", "ts",
      Seq("user_id")).count() === 0)
  }

  test("single-row series: rolling/lag/interp return the row unchanged") {
    val one = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      2.5)).toDF("user_id", "ts", "v")
    val rolled = one.select(
      Windows.rollingTrailing(Windows.med, col("v"), col("ts"),
        Seq(col("user_id")), 3600).as("m"),
      Windows.lagDiff(unix_micros(col("ts")), Seq(col("user_id")),
        Seq(col("ts"))).as("d")).head()
    assert(rolled.getDouble(0) === 2.5)
    assert(rolled.isNullAt(1)) // no previous row
    val interp = Windows.interpolateLinear(one, "v", "ts", Seq("user_id"))
      .head()
    assert(interp.getAs[Double]("v") === 2.5)
  }

  test("a null sharing its timestamp with its bracketing values " +
    "interpolates to the previous value, never NaN") {
    // duplicate timestamps are in-contract (tiebreakCols); with
    // pt = nt the time fraction is 0/0, which used to write NaN — a
    // poisoned non-null that survives every downstream null check
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val dup = Seq(
      (1L, ts, java.lang.Double.valueOf(1.0), 1),
      (1L, ts, null.asInstanceOf[java.lang.Double], 2),
      (1L, ts, java.lang.Double.valueOf(2.0), 3))
      .toDF("user_id", "ts", "v", "k")
    val out = Windows.interpolateLinear(dup, "v", "ts", Seq("user_id"),
      tiebreakCols = Seq("k"))
      .orderBy("k").collect().map(_.getAs[Double]("v"))
    assert(!out.exists(_.isNaN), s"NaN leaked: ${out.toSeq}")
    assert(out.toSeq === Seq(1.0, 1.0, 2.0))
  }

  test("all-null series: interpolation and ffill stay null") {
    val nulls = (0 until 5).map(i =>
      (1L, new java.sql.Timestamp(1700000000000L + i * 1000L),
        null.asInstanceOf[java.lang.Double]))
      .toDF("user_id", "ts", "v")
    assert(Windows.interpolateLinear(nulls, "v", "ts", Seq("user_id"))
      .where(col("v").isNotNull).count() === 0)
    assert(Windows.ffillLimited(nulls, "v", "ts", Seq("user_id"), 3)
      .where(col("v").isNotNull).count() === 0)
  }

  test("t126 tier boundary: a corpus straddling the 10k-gram cap " +
    "routes each (source, n) group to its own tier, and the sketch " +
    "tier stays within KMV's error band of the exact count") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ttr-tier").toString
    // 'big': ~1200 docs × 12 tokens ≈ 14.4k unigrams (> cap, crosses
    // it); 'small': 10 docs ≈ 120 unigrams (≤ cap). Unique-ish tokens
    // push the big source's distinct count past k=256 so the
    // ESTIMATOR path (not the <k exact path) is what's exercised.
    val docs = ((0 until 1200).map(i => (i.toLong, "big",
        (0 until 12).map(j => s"w${i * 12 + j}").mkString(" "))) ++
      (1200 until 1210).map(i => (i.toLong, "small",
        (0 until 12).map(j => s"s${j % 5}").mkString(" "))))
      .toDF("doc_id", "source", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t126_ngram_diversity")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    // tier routing follows group size, not the corpus
    assert(out(("big", 1L)).getAs[Boolean]("sketched"))
    assert(!out(("small", 1L)).getAs[Boolean]("sketched"))
    // small tier is EXACT: 5 distinct tokens
    assert(out(("small", 1L)).getAs[Long]("distinct_ngrams") === 5L)
    // sketch tier: KMV(k=256) estimate of 14400 distinct unigrams —
    // standard error 1/√k ≈ 6%, assert a generous 3σ band
    val est = out(("big", 1L)).getAs[Long]("distinct_ngrams")
    assert(math.abs(est - 14400.0) / 14400.0 < 0.2,
      s"KMV estimate $est drifted from exact 14400")
  }

  test("dedup/ANN pipelines accept empty corpora") {
    val noDocs = Seq.empty[(Long, Seq[String])].toDF("doc_id", "shingles")
    assert(Dedup.lshCandidatePairs(noDocs, "doc_id", "shingles")
      .count() === 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.srpCandidatePairs(noVecs, "vec_id", "embedding", 4, 2)
      .count() === 0)
    val some = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // empty centroid set → null assignment, not a crash
    assert(Vectors.ivfAssign(some, noVecs.select(
      col("vec_id").as("cid"), col("embedding")), "vec_id", "cid",
      "embedding").where(col("cid").isNotNull).count() === 0)
    // empty corpus against real centroids → empty
    assert(Vectors.ivfAssign(noVecs, some.select(col("vec_id").as("cid"),
      col("embedding")), "vec_id", "cid", "embedding").count() === 0)
  }

  test("toWide emits null cells for absent keys") {
    val df = Seq((1L, "a", 2.0)).toDF("id", "k", "v")
    val wide = Reshape.toWide(df, Seq("id"), "k", Seq("a", "b"), "v",
      c => sum(c)).head()
    assert(wide.getDouble(1) === 2.0)
    assert(wide.isNullAt(2))
  }

  test("text pipeline helpers: chunking, repetition, URLs, BPE tokens") {
    val df = Seq(
      (0L, Seq.fill(20)("w").mkString(" ")),          // 20 tokens = 2 exact chunks, all identical
      (1L, (1 to 25).map("t" + _).mkString(" ")),     // 25 tokens = 3 chunks, last short, all distinct
      (2L, "no urls here"),
      (3L, "see https://a.example.org/x and http://b.net/y"),
      (4L, "can't stop 123 !!")).toDF("id", "text")
    val r = df.select($"id",
      TextOps.tokenChunks(TextOps.tokens($"text"), 10).as("ch"),
      TextOps.dupElementFraction(
        TextOps.tokenChunks(TextOps.tokens($"text"), 10)).as("dl"),
      TextOps.dupCharFraction(
        TextOps.tokenChunks(TextOps.tokens($"text"), 10)).as("dc"),
      TextOps.urlDomains($"text").as("dom"),
      TextOps.bpeTokenCount($"text").as("bpe"))
      .orderBy("id").collect()
    assert(r(0).getSeq[String](1).length === 2)       // exact multiple of 10
    assert(r(0).getDouble(2) === 0.5 && r(0).getDouble(3) === 0.5)
    assert(r(1).getSeq[String](1).length === 3)       // ragged tail chunk
    assert(r(1).getDouble(2) === 0.0 && r(1).getDouble(3) === 0.0)
    assert(r(2).getSeq[String](4).isEmpty)
    assert(r(3).getSeq[String](4) === Seq("a.example.org", "b.net"))
    // can + 't + stop + 123 + !!
    assert(r(4).getLong(5) === 5L)
  }

  test("canonicalUrl: the cases the t89 corpus can't plant") {
    val urls = Seq(
      // root path: the trailing-slash strip must NOT eat the lone /
      "https://example.com/",
      // non-default port survives; default :80 drops even on http
      "http://example.com:8080/a", "HTTP://EXAMPLE.com:80/a",
      // utm param in the MIDDLE of the query; non-utm params keep order
      "https://e.com/p?a=1&utm_source=x&b=2",
      // all-utm query drops the '?' entirely; empty-query '?' drops too
      "https://e.com/p?utm_a=1&utm_b=2", "https://e.com/p?",
      // fragment-only and fragment-after-query
      "https://e.com/p#sec", "https://e.com/p?a=1#sec",
      // www-strip is a prefix op, not a substring op
      "https://www.e.com/x", "https://notwww.e.com/x",
      // path case is preserved (only scheme+host lowercase)
      "https://E.COM/CaseSensitive/Path",
      // RFC 3986 §6.2.3: empty path normalizes to '/'
      "https://e.com", "https://e.com?a=1",
      // default-port strip is per-SCHEME: http:443 / https:80 are
      // real non-default ports naming different resources
      "http://e.com:443/x", "https://e.com:80/x",
      // NO scheme → pass through unchanged (distinct raw strings stay
      // distinct keys; collapsing them onto ":///" would let the
      // first unparseable URL swallow every later one in a
      // frontier-dedup sink)
      "//cdn.site.com/lib.js", "/relative/path?utm_a=1", "not a url")
    val got = urls.toDF("u")
      .select(TextOps.canonicalUrl($"u")).as[String].collect()
    assert(got === Seq(
      "https://example.com/",
      "http://example.com:8080/a", "http://example.com/a",
      "https://e.com/p?a=1&b=2",
      "https://e.com/p", "https://e.com/p",
      "https://e.com/p", "https://e.com/p?a=1",
      "https://e.com/x", "https://notwww.e.com/x",
      "https://e.com/CaseSensitive/Path",
      "https://e.com/", "https://e.com/?a=1",
      "http://e.com:443/x", "https://e.com:80/x",
      "//cdn.site.com/lib.js", "/relative/path?utm_a=1", "not a url"))
  }

  test("span machinery on degenerate documents: empty, short, null-ish") {
    import graft.functions.SketchExpressions
    // empty text tokenizes to [""], shorter than any window → no grams;
    // a doc exactly at the window width yields one gram at pos 1
    val docs = Seq((1L, ""), (2L, "a b c"), (3L, "w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    val grams = graft.ops.Spans.gramHashes(docs, "doc_id", "text", 8)
    val byDoc = grams.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L))
    assert(byDoc(3L) === 1L)
    assert(grams.where($"doc_id" === 3).head().getAs[Long]("pos") === 1L)
    // canonicalize: empty and whitespace-only collapse to ""
    val canon = Seq("", "   ", "\t\n").toDF("text")
      .select(SketchExpressions.canonicalizeText($"text"))
      .collect().map(_.getString(0))
    assert(canon.forall(_ === ""))
    // gopher metrics survive the empty-token doc (split("") = [""],
    // so n_words is 1, never 0 — no division by zero): run the
    // actual t46 expressions over THESE docs, including the "" text
    val toks = graft.ops.TextOps.tokensLower($"text")
    val nWords = size(toks).cast("long")
    val meanLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
      .cast("double") / nWords
    val g = docs.select($"doc_id", nWords.as("n_words"),
      meanLen.as("mean_word_len"))
      .orderBy("doc_id").collect()
    assert(g.forall(_.getAs[Long]("n_words") >= 1L))
    assert(g.head.getAs[Long]("n_words") === 1L)        // the "" doc
    assert(g.head.getAs[Double]("mean_word_len") === 0.0) // 0/1, not NaN
  }

  test("DSIR LM survives an absent target domain and whitespace docs") {
    import graft.ops.TextOps
    val corpus = Seq(("web", "gamma delta"), ("web", "gamma gamma"))
      .toDF("source", "text")
    // target domain has ZERO documents: tt=0 makes p_target uniform
    // (1/v per term) — weights stay finite (Laplace smoothing keeps
    // both logs defined); a corpus-frequent term scores below uniform
    val (vocab, scalars) = TextOps.dsirLm(corpus, "text", "source", "tgt")
    val scored = TextOps.dsirScore(
      Seq((1L, "gamma gamma")).toDF("doc_id", "text"),
      "doc_id", "text", vocab, scalars).head()
    val w = scored.getAs[Double]("dsir_logweight")
    assert(!w.isNaN && !w.isInfinite && w < 0)
    // whitespace-only and empty docs produce NO score row (no tokens
    // survive the length filter) rather than a NaN from avg-of-nothing
    val empty = TextOps.dsirScore(
      Seq((2L, "   "), (3L, "")).toDF("doc_id", "text"),
      "doc_id", "text", vocab, scalars)
    assert(empty.count() === 0)
  }

  test("depth recurrence with an empty or pre-install series is empty") {
    val udg = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), -1.0))
      .toDF("ts", "udg")
    val out = Depths.tdrDepth(udg, "ts", "udg", Seq(
      Depths.Install("s", java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
        -1.0))) // installed after the series ends
    assert(out.count() === 0)
  }

  test("t81 scores empty, whitespace-only and one-token text with " +
    "n_feats >= 1 and drops null text") {
    // `sw div n_feats` carries no guard: for non-null text Spark's
    // split returns at least one token, so the histogram counts at
    // least one unigram, and the scorer filters null text. Under the
    // session's default ANSI mode a zero divisor would fail the query
    // with DIVIDE_BY_ZERO; this case pins that it cannot happen.
    assert(spark.sessionState.conf.ansiEnabled)
    withTempCorpus("graft-t81-degenerate") { dir =>
      Seq[(Long, String, String)]((1L, "src0", ""), (2L, "src1", "   "),
        (3L, "web", "word"), (4L, "web", null))
        .toDF("doc_id", "source", "text")
        .write.parquet(s"$dir/documents.parquet")
      val rows = SparkEntry.queries("t81_hash_classifier")(spark, dir)
        .collect()
      assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq ===
        Seq(1L, 2L, 3L))
      rows.foreach { r =>
        assert(r.getAs[Long]("n_feats") >= 1, s"no features: $r")
        assert(!r.isNullAt(r.fieldIndex("score_ppm")), s"no score: $r")
      }
    }
  }
}
