package graft

import org.apache.spark.sql.functions._
import graft.functions.UnigramExpressions

/** Unigram-LM tokenizer (t132/t133/t134). The DuckDB twin gates the
  * full EM numerically; this spec pins the kernel's DP contract on
  * hand-computed tables and the trainer's invariants on a tiny
  * hand-built corpus. */
class UnigramSpec extends SparkSpec {

  private def encode(word: String,
                     table: Seq[(String, Long)]): Seq[String] = {
    import spark.implicits._
    Seq(word).toDF("w")
      .select(UnigramExpressions.unigramEncode(col("w"), table).as("p"))
      .head.getSeq[String](0).toSeq
  }

  test("Viterbi DP: the cheapest segmentation wins over greedy") {
    // dp("abab"): a·b·a·b = 400, ab·ab = 300, abab = 250 → whole word
    val t = Seq("a" -> 100L, "b" -> 100L, "ab" -> 150L, "abab" -> 250L)
    assert(encode("abab", t) === Seq("abab"))
    // without the whole-word piece the pair split wins
    assert(encode("abab", t.filterNot(_._1 == "abab")) ===
      Seq("ab", "ab"))
  }

  test("Viterbi tie-break: equal cost goes to the LONGEST piece — " +
    "the rule the DuckDB twin unrolls") {
    // "ab": b+a = 200 == ab = 200 → tie → ab
    val t = Seq("a" -> 100L, "b" -> 100L, "ab" -> 200L)
    assert(encode("ab", t) === Seq("ab"))
  }

  test("reconstruction: pieces concatenate back to the word") {
    val t = Seq("a" -> 5L, "b" -> 7L, "c" -> 11L, "ab" -> 9L,
      "bc" -> 8L, "abc" -> 20L)
    for (w <- Seq("abc", "abcabc", "cba", "aabbcc"))
      assert(encode(w, t).mkString === w)
  }

  test("a character missing from the table fails loudly, not " +
    "silently mis-segments") {
    val t = Seq("a" -> 5L)
    val e = intercept[Exception] { encode("ax", t) }
    assert(e.getMessage.contains("unsegmentable"))
  }

  test("trainer on a hand-built corpus: frequent whole words become " +
    "pieces, singles survive pruning, encode is consistent") {
    import spark.implicits._
    withTempCorpus("graft-unigram-spec") { dir =>
      // 40 docs of "abab abab ab", 10 of "cd" — 'abab' dominates
      val docs = ((0 until 40).map(i =>
          (i.toLong, "web", "abab abab ab")) ++
        (40 until 50).map(i => (i.toLong, "web", "cd")))
        .toDF("doc_id", "source", "text")
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val table = SparkEntry.queries("t132_unigram_train")(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val pieces = table.map(_._1).toSet
      // coverage guarantee: every corpus character survives as a piece
      assert(Set("a", "b", "c", "d").subsetOf(pieces))
      // the dominant word is in the vocabulary and carries count 80
      // (2 occurrences × 40 docs): the EM converged on whole-word
      // segmentation for it
      val abab = table.find(_._1 == "abab")
      assert(abab.isDefined, s"abab missing from ${pieces.toSeq.sorted}")
      assert(abab.get._2 === 80L)
      // encode consistency: every doc's pieces reconstruct its words
      val enc = SparkEntry.queries("t133_unigram_encode")(spark, dir)
        .collect()
      assert(enc.length === 50)
      val first = enc.find(_.getLong(0) < 40).get
      assert(first.getAs[Long]("n_words") === 3L)
      // "abab abab ab" → [abab][abab][ab] = 3 pieces
      assert(first.getAs[Long]("n_pieces") === 3L)
    }
  }

  test("staged artifact: a reuse run serves the on-disk table " +
    "untouched; an in-place corpus rewrite stages a new snapshot dir " +
    "and removes the old one") {
    import spark.implicits._
    withTempCorpus("graft-unigram-stage") { dir =>
      ((0 until 30).map(i => (i.toLong, "web", "xyxy xyxy xy")) ++
        (30 until 40).map(i => (i.toLong, "web", "qr")))
        .toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def run() = SparkEntry.queries("t132_unigram_train")(spark, dir)
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      // the current snapshot's artifact dir (<name>/<fp>), which the
      // query must already have staged
      def artifact(): java.io.File = new java.io.File(
        Stage.artifact(spark, dir, "unigram_table")(_ =>
          fail("t132 did not stage the unigram table")))
      def snapshots(): Set[String] =
        Option(artifact().getParentFile.listFiles()).getOrElse(Array.empty)
          .map(_.getName).filterNot(_.startsWith(".")).toSet
      val r1 = run()
      val a1 = artifact()
      val tsv = new java.io.File(a1, "table.tsv")
      assert(tsv.isFile, s"no table.tsv in $a1")
      val mtime1 = tsv.lastModified()
      // there is no in-JVM memo: the re-run parses the disk artifact
      // back, and must not re-train (mtime unchanged)
      Thread.sleep(1100) // fs mtime granularity
      val r2 = run()
      assert(r2 === r1, "staged table drifted on reuse")
      assert(tsv.lastModified() === mtime1,
        "reuse path rewrote the artifact (re-trained?)")
      // in-place corpus rewrite → metadata fingerprint changes → a NEW
      // <fp> dir is staged and the stale snapshot's dir is removed
      ((0 until 40).map(i => (i.toLong, "web", "mn mn mn")))
        .toDF("doc_id", "source", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val r3 = run()
      val a3 = artifact()
      assert(a3 !== a1, "corpus rewrite did not stage a new snapshot dir")
      assert(!a1.exists(), s"stale snapshot dir $a1 survived the rebuild")
      assert(snapshots() === Set(a3.getName))
      assert(r3.map(_._1).toSet.subsetOf(Set("m", "n", "mn")) &&
        r3.exists(_._1 == "mn"),
        s"rebuilt table does not reflect only the new corpus: ${r3.map(_._1)}")
    }
  }
}
