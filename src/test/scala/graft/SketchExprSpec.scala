package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions
import graft.ops.{Dedup, TextOps}

/** The custom Catalyst expressions must be bit-identical to the
  * declarative (built-in HOF) formulations they accelerate — which are
  * in turn oracle-verified against DuckDB. */
class SketchExprSpec extends SparkSpec {

  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "a a a a a",
    "one two",            // too short for 3-gram shingles
    "sphinx of black quartz judge my vow now and then again")
    .zipWithIndex.map(_.swap).toDF("id", "text")

  test("MinHashSigExpr == declarative minhashSignature") {
    val withSh = texts
      .withColumn("__sh", TextOps.wordShingles(TextOps.tokens($"text"), 3))
      .where(size($"__sh") > 0)
    val both = withSh.select($"id",
      Dedup.minhashSignature($"__sh", 8).as("slow"),
      SketchExpressions.minhashSig($"__sh", 8).as("fast"))
    val diff = both.where(!($"slow" === $"fast")).count()
    assert(diff === 0)
    // and sane shape
    val sig = both.head().getSeq[String](1)
    assert(sig.length === 8 && sig.forall(_.matches("[0-9a-f]{32}")))
  }

  test("WordShinglesExpr == declarative wordShingles (incl. short docs)") {
    val both = texts.select($"id",
      TextOps.wordShingles(TextOps.tokens($"text"), 3).as("slow"),
      SketchExpressions.wordShingles(TextOps.tokens($"text"), 3).as("fast"))
    assert(both.where(!($"slow" === $"fast")).count() === 0)
    // the 2-token doc yields an empty array, not null
    val short = both.where($"id" === 3).head()
    assert(short.getSeq[String](1).isEmpty && short.getSeq[String](2).isEmpty)
  }

  test("CanonicalizeTextExpr: NFC folds composed/decomposed, collapses ws") {
    val composed = "caf\u00e9 r\u00e9sum\u00e9"   // e-acute as one codepoint
    val decomposed = "cafe\u0301 re\u0301sume\u0301" // e + combining acute
    val got = Seq(composed, decomposed, "  A\tB\n C  ", "ascii only")
      .toDF("text")
      .select(SketchExpressions.canonicalizeText($"text"))
      .collect().map(_.getString(0))
    assert(got(0) === "caf\u00e9 r\u00e9sum\u00e9")
    assert(got(1) === got(0)) // decomposed form canonicalizes to the same
    assert(got(2) === "a b c")
    assert(got(3) === "ascii only")
  }

  test("TokenChunksExpr == declarative tokenChunks (incl. ragged tail)") {
    val both = texts.select($"id",
      TextOps.tokenChunks(TextOps.tokens($"text"), 4).as("slow"),
      SketchExpressions.tokenChunks(TextOps.tokens($"text"), 4).as("fast"))
    assert(both.where(!($"slow" === $"fast")).count() === 0)
    // a 10-token doc chunks to 4+4+2 — the tail chunk is short
    val c = both.head().getSeq[String](2)
    assert(c.nonEmpty && c.last.split(" ").length <= 4)
  }

  test("JaccardExpr == declarative jaccard on distinct shingle sets") {
    val sets = texts
      .select($"id",
        array_distinct(TextOps.wordShingles(TextOps.tokens($"text"), 2))
          .as("ss"))
    val pairs = sets.select($"id".as("ia"), $"ss".as("sa"))
      .crossJoin(sets.select($"id".as("ib"), $"ss".as("sb")))
    val both = pairs.select(
      TextOps.jaccard($"sa", $"sb").as("slow"),
      SketchExpressions.jaccard($"sa", $"sb").as("fast"))
    // coalesce: a null-vs-value mismatch must COUNT, not null out the
    // conjunction and vanish from the filter
    assert(both.where(
      !($"slow" <=> $"fast") &&
        coalesce(abs($"slow" - $"fast") > lit(1e-12), lit(true)))
      .count() === 0)
    // self-similarity is exactly 1 for non-empty sets
    val self = sets.where(size($"ss") > 0)
      .select(SketchExpressions.jaccard($"ss", $"ss"))
      .collect().map(_.getDouble(0))
    assert(self.forall(_ == 1.0))
    // both empty → null on BOTH paths (the declarative 0/0 would
    // THROW under Spark 4's default ANSI without its union>0 guard)
    val empty = Seq((Seq.empty[String], Seq.empty[String]))
      .toDF("a", "b")
      .select(SketchExpressions.jaccard($"a", $"b").as("fast"),
        TextOps.jaccard($"a", $"b").as("slow"))
      .head()
    assert(empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("tokenChunks on an EMPTY token array is [] on both paths") {
    // sequence(1, 0) runs DOWNWARD: the unguarded declarative form
    // emitted two phantom '' chunks (a zero-token doc would score
    // 50% duplicate-line fraction); the kernel returns []
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("t")
      .select(TextOps.tokenChunks($"t", 4).as("slow"),
        SketchExpressions.tokenChunks($"t", 4).as("fast"))
      .head()
    assert(empty.getSeq[String](0).isEmpty)
    assert(empty.getSeq[String](1).isEmpty)
  }

  test("LangIdExpr == declarative langId") {
    val texts2 = (texts.collect().map(_.getString(1)) ++ Seq(
      "le chat et les chiens de la maison",
      "der hund und die katze ist nicht da",
      "el perro y la casa de que un dia",
      "你好世界 hello", "", "   ", "xyzzy plugh"))
      .zipWithIndex.map(_.swap).toSeq.toDF("id", "text")
    val both = texts2.select($"id",
      TextOps.langId($"text").as("slow"),
      SketchExpressions.langId($"text").as("fast"))
    assert(both.where($"slow" =!= $"fast").count() === 0)
  }

  test("textStats + qualityScoreFrom == declarative qualityScore") {
    val both = texts.select($"id",
      TextOps.qualityScore($"text").as("slow"),
      TextOps.qualityScoreFrom(
        SketchExpressions.textStats($"text")).as("fast"))
    assert(both.where($"slow" =!= $"fast").count() === 0)
  }

  test("textStats counts code points, not UTF-16 units, on " +
    "supplementary-plane text") {
    // an emoji is ONE code point but TWO UTF-16 units: n_chars (and
    // every ratio over it) must match Spark length() on both paths
    val emoji = Seq((0L, "hi 😀 the end"))
      .toDF("id", "text")
    val r = emoji.select(
      TextOps.qualityScore($"text").as("slow"),
      TextOps.qualityScoreFrom(
        SketchExpressions.textStats($"text")).as("fast"),
      SketchExpressions.textStats($"text").getField("n_chars")
        .as("nc"),
      length($"text").as("len")).head()
    assert(r.getAs[Any]("slow") === r.getAs[Any]("fast"))
    assert(r.getAs[Int]("nc") === r.getAs[Int]("len"))
  }

  test("sketch aggregates survive values containing the old framing " +
    "delimiters across a real shuffle") {
    // '\n'/'\t' inside aggregated VALUES: delimiter-framed serialize
    // split them after the map-side partial — multi-partition runs
    // disagreed with single-partition ones. Length-prefixed framing
    // must make both identical.
    val vals = Seq("a\nzzz", "b\tmid", "plain", "a\nzzz", "q")
    val df = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .repartition(4)
    val many = df.agg(
      graft.functions.AggregateExpressions.bottomKStrings($"v", 3)
        .as("bk"),
      graft.functions.AggregateExpressions.misraGries($"v", 2)
        .as("mg")).head()
    val one = df.coalesce(1).agg(
      graft.functions.AggregateExpressions.bottomKStrings($"v", 3)
        .as("bk"),
      graft.functions.AggregateExpressions.misraGries($"v", 2)
        .as("mg")).head()
    assert(many.getSeq[String](0) === one.getSeq[String](0))
    assert(many.getSeq[String](0).forall(vals.contains),
      s"no split fragments: ${many.getSeq[String](0)}")
    assert(many.getSeq[String](1) === one.getSeq[String](1))
  }

  test("BottomKShingleHashesExpr == slice(sortedShingleHashes, 1, k)") {
    // include a doc with repeated shingles so duplicate hashes must be
    // kept (bottom-k with repetition, exactly like the sorted slice)
    val both = texts.select($"id",
      slice(TextOps.sortedShingleHashes($"text", 3), 1, 4).as("slow"),
      SketchExpressions.bottomKShingleHashes(TextOps.tokens($"text"), 3, 4)
        .as("fast"))
    assert(both.where(!($"slow" === $"fast")).count() === 0)
    // short doc → empty array on both sides
    val short = both.where($"id" === 3).head()
    assert(short.getSeq[String](1).isEmpty && short.getSeq[String](2).isEmpty)
    // fewer shingles than k → all of them, ascending
    val rep = both.where($"id" === 2).head().getSeq[String](2)
    assert(rep.length === 3 && rep === rep.sorted)
  }

  /** Declarative reference forms of the vector kernels (HOF folds in
    * array-index order, interpreted per element) — the independent
    * side of the bit-identity tests below. */
  private def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def cosineDeclarative(a: Column, b: Column): Column =
    dotDeclarative(a, b) / (sqrt(dotDeclarative(a, a)) *
      sqrt(dotDeclarative(b, b)))

  /** `Vectors.srpBucket` as an interpreted HOF fold with 2-D literal
    * lookups over the same weight matrix. */
  private def srpBucketDeclarative(vec: Column, dims: Int,
                                   planes: Int): Column = {
    val wLit = typedlit(graft.ops.Vectors.srpWeights(dims, planes))
    // fold over min(dims, |vec|) like the kernel (which truncates a
    // short vector) — element_at past the end would null-poison the
    // whole accumulator into all-'0' bits and break the documented
    // bit-identical equivalence. Empty vector: the kernel's 0.0
    // accumulator signs to all-'1' (sequence(1,0) would run DOWNWARD
    // and hit index 0, so it cannot express the empty fold).
    when(size(vec) >= 1,
      concat_ws("", transform(sequence(lit(1), lit(planes)), p =>
        when(aggregate(
          sequence(lit(1), least(lit(dims), size(vec))), lit(0.0),
          (acc, d) => acc + element_at(element_at(wLit, p), d) *
            element_at(vec, d).cast("double")) >= 0, "1")
          .otherwise("0"))))
      .otherwise(lit("1" * planes))
  }

  test("vector kernels == declarative HOF folds, bit-identical") {
    import graft.ops.Vectors
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "vf", "vd")
    val paired = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vf").as("af"), col("b.vf").as("bf"),
        col("a.vd").as("ad"), col("b.vd").as("bd"))
    // float×float, double×double and mixed element types; === on
    // doubles is exact equality — the kernels must be bit-identical
    val diff = paired.where(
      !(Vectors.dot(col("af"), col("bf")) ===
        dotDeclarative(col("af"), col("bf"))) ||
      !(Vectors.sqDist(col("af"), col("bf")) ===
        Vectors.sqDistDeclarative(col("af"), col("bf"))) ||
      !(Vectors.cosine(col("af"), col("bf")) ===
        cosineDeclarative(col("af"), col("bf"))) ||
      !(Vectors.dot(col("ad"), col("bd")) ===
        dotDeclarative(col("ad"), col("bd"))) ||
      !(Vectors.cosine(col("af"), col("bd")) ===
        cosineDeclarative(col("af"), col("bd")))).count()
    assert(diff === 0)
  }

  test("VecSqDistLongExpr == index-order long aggregate fold") {
    // the SQ8 family's exact contract: Σ (aᵢ−bᵢ)² in LONG arithmetic,
    // index order — micro-quantized coordinates up to ±2·10⁶ (wider
    // than the ±1·10⁶ embedding range, so headroom is covered too)
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextLong() % 2000000L)))
      .toDF("id", "v")
    val paired = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.v").as("av"), col("b.v").as("bv"))
    val diff = paired.where(
      !(graft.functions.VectorExpressions.sqDistLong($"av", $"bv") ===
        aggregate(sequence(lit(1), lit(64)), lit(0L), (a, i) => {
          val d = element_at($"av", i) - element_at($"bv", i)
          a + d * d
        }))).count()
    assert(diff === 0)
    // length mismatch → null (matching the fold over padded zips)
    val mism = vecs.select(graft.functions.VectorExpressions
      .sqDistLong($"v", slice($"v", 1, 10)).as("d"))
    assert(mism.where($"d".isNotNull).count() === 0)
  }

  test("FeatureBucketCountsExpr == explode(toks ++ shingles2) → " +
    "substring(md5, 1, 2) counts, on real corpus text") {
    // the classifier family's corpus kernel (t81/t107/t115/t116/t127/
    // t128): bucket b's count must equal the number of features f
    // (unigrams + 2-shingles) with substring(md5(f), 1, 2) = hex(b) —
    // the exact explode-path definition docBucketCounts replaced.
    // Real corpus text plus the edge rows below (1-token doc, doc
    // whose split yields [""]).
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((900001L, "solo"), (900002L, "")).toDF("doc_id", "text"))
    val toks = TextOps.tokensLower($"text")
    val slow = docs
      .select($"doc_id", explode(concat(toks,
        SketchExpressions.wordShingles(toks, 2))).as("f"))
      .groupBy($"doc_id", substring(md5($"f"), 1, 2).as("b"))
      .agg(count(lit(1)).as("c"))
    val fast = docs
      .select($"doc_id",
        posexplode(SketchExpressions.featureBucketCounts(toks))
          .as(Seq("p", "c")))
      .where($"c" > 0)
      .select($"doc_id", format_string("%02x", $"p").as("b"), $"c")
    assert(slow.count() > 0)
    assert(slow.exceptAll(fast).count() === 0L &&
      fast.exceptAll(slow).count() === 0L,
      "kernel histogram must reproduce the explode-path bucket counts")
  }

  test("VecSrpBucketExpr == declarative srpBucket fold") {
    import graft.ops.Vectors
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array.fill(32)(rnd.nextFloat() * 4 - 2)))
      .toDF("id", "v")
    val both = vecs.select($"id",
      Vectors.srpBucket($"v", 32, 8).as("fast"),
      srpBucketDeclarative($"v", 32, 8).as("slow"))
    assert(both.where($"fast" =!= $"slow").count() === 0)
    assert(both.head().getString(1).matches("[01]{8}"))
  }

  test("DupNgramFractionExpr == declarative dupNgramFraction") {
    val both = texts.select($"id",
      TextOps.dupNgramFraction($"text", 3).as("slow"),
      SketchExpressions.dupNgramFraction(TextOps.tokens($"text"), 3)
        .as("fast"))
    // null-safe compare: the 2-token doc must be null on BOTH sides
    assert(both.where(!($"slow" <=> $"fast")).count() === 0)
    assert(both.where($"id" === 3).head().isNullAt(2))
    // "a a a a a" → 3 identical 3-grams → 1 - 1/3
    val rep = both.where($"id" === 2).head().getDouble(2)
    assert(math.abs(rep - (1.0 - 1.0 / 3.0)) < 1e-12)
  }

  test("SimHash32Expr == declarative simhash32") {
    val withH = texts
      .withColumn("__hs", Dedup.tokenHashes(TextOps.tokens($"text")))
    val both = withH.select($"id",
      Dedup.simhash32($"__hs").as("slow"),
      SketchExpressions.simhash32(TextOps.tokens($"text")).as("fast"))
    val diff = both.where($"slow" =!= $"fast").count()
    assert(diff === 0)
    assert(both.head().getString(1).matches("[01]{32}"))
  }

  test("t123 CMS: estimates never undercount, and a sparse vocab " +
    "reads back exact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cms-spec").toString
    // 6 distinct terms in 4×1024 counters: a term overcounts only if
    // it collides in ALL FOUR hash rows — deterministically false for
    // this fixed vocabulary (md5 salts are fixed; verified here).
    val docs = (0 until 30).map(i =>
      (i.toLong, "web", s"alpha beta gamma ${Seq("delta", "epsilon",
        "zeta")(i % 3)}"))
      .toDF("doc_id", "source", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("t123_cms_counts")(spark, dir)
      .collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0L,
        "CMS must never undercount")
      assert(r.getAs[Long]("est_cnt") === r.getAs[Long]("exact_cnt"),
        s"sparse vocab must be collision-free in min-of-4 rows: $r")
    }
    assert(rows.filter(r => Set("alpha", "beta", "gamma")(
      r.getString(0))).forall(_.getAs[Long]("exact_cnt") == 30L))
  }

  test("CompressRatioExpr goldens: redundancy orders ratios, edges fixed") {
    // deterministic high-entropy bytes: md5 hex chain (no RNG in specs)
    val noise = Iterator.iterate("seed")(s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString).drop(1).take(64).mkString
    val df = Seq(
      (0, ""),                       // empty → 1.0 by convention
      (1, "a" * 4096),               // pure repetition → near-zero
      (2, "the cat sat on the mat " * 200), // boilerplate → very low
      (3, noise),                    // hex noise → mid
      (4, "x")                       // 1 byte: deflate overhead > raw
    ).toDF("id", "text")
    val got = df.select($"id",
        SketchExpressions.compressRatio($"text").as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got(0) === 1.0)
    assert(got(1) < 0.01, s"pure repetition ${got(1)}")
    assert(got(2) < 0.05, s"boilerplate ${got(2)}")
    assert(got(3) > got(2) * 5, s"noise ${got(3)} vs boiler ${got(2)}")
    assert(got(4) > 1.0)             // tiny inputs inflate — documented
    // null in → null out (UnaryExpression null-safety)
    val n = Seq((5, null.asInstanceOf[String])).toDF("id", "text")
      .select(SketchExpressions.compressRatio($"text")).head()
    assert(n.isNullAt(0))
  }
}
