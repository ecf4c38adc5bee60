package graft

import org.apache.spark.sql.functions._
import graft.queries.AnnQueries

/** The staged cluster-label artifact must track corpus CONTENT, not
  * the corpus path: the engine's own CDC/compaction sinks rewrite a
  * corpus dir in place, and a path-keyed memo would silently serve
  * stale labels to every cluster consumer for the JVM's lifetime.
  * The artifact is keyed by a filesystem-metadata fingerprint
  * (name/length/mtime of every part file) and revalidated on every
  * read. */
class StagedLabelsSpec extends SparkSpec {

  test("the memoized BPE merge table tracks corpus CONTENT too — an " +
    "in-place rewrite retrains instead of serving stale merges") {
    import org.apache.spark.sql.functions.col
    withTempCorpus("graft-merge-spec") { dir =>
      def corpus(word: String) = {
        import spark.implicits._
        (0 until 40).map(i => (i.toLong, "web", s"$word $word"))
          .toDF("doc_id", "source", "text")
      }
      corpus("abab").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      def topMerge(): String =
        SparkEntry.queries("t71_bpe_train")(spark, dir)
          .orderBy(col("rank")).select("merged").head.getString(0)
      assert(topMerge() === "ab")
      // same content → memo hit (same answer, trivially)
      assert(topMerge() === "ab")
      // in-place rewrite with different content — the path-only memo
      // would still answer "ab" here for the JVM's lifetime
      corpus("cdcd").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      assert(topMerge() === "cd",
        "a corpus rewrite must retrain the memoized merge table")
    }
  }

  test("an in-place corpus append refreshes the staged labels " +
    "mid-JVM; an unchanged corpus reuses the artifact") {
    withTempCorpus("graft-staged-spec") { dir =>
      val src = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      src.write.mode("overwrite").parquet(s"$dir/documents.parquet")

      def labeled(): Long =
        SparkEntry.queries("d5_neardup_keep")(spark, dir)
          .agg(sum("n_docs")).head.getLong(0)

      val nDocs = src.count()
      assert(labeled() == nDocs, "every doc must receive a cluster label")

      // unchanged corpus: the second read must serve the same artifact
      // (fingerprint match — no rebuild, same totals)
      assert(labeled() == nDocs)

      // in-place append (what a compaction/CDC sink does): new part
      // files land in the SAME directory — the metadata fingerprint
      // changes, so the artifact must rebuild and label the new doc
      src.limit(1)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      assert(labeled() == nDocs + 1,
        "stale staged labels served after an in-place corpus rewrite")
    }
  }

  test("the distilled model tracks corpus CONTENT — after an in-place " +
    "rewrite t115/t116 equal a run on a fresh dir holding the new corpus") {
    withTempCorpus("graft-distill-spec") { dir =>
    withTempCorpus("graft-distill-fresh") { fresh =>
      val src = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
      src.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def result(q: String, d: String): Seq[String] =
        SparkEntry.queries(q)(spark, d).collect().map(_.toString).sorted.toSeq
      val before = result("t115_logreg_distill", dir)
      // in-place rewrite with a different subset; the path-keyed memo
      // would keep serving the model trained on the full corpus
      val subset = src.where(col("doc_id") % 3 =!= 0)
      subset.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      subset.write.mode("overwrite").parquet(s"$fresh/documents.parquet")
      for (q <- Seq("t115_logreg_distill", "t116_distill_audit"))
        assert(result(q, dir) === result(q, fresh),
          s"$q served a stale distilled model after an in-place rewrite")
      assert(result("t115_logreg_distill", fresh) !== before,
        "the subset must train a different model for this test to bite")
    }}
  }

  test("staged bitext centroids track corpus content and round-trip " +
    "the trained values exactly") {
    import spark.implicits._
    withTempCorpus("graft-cents-spec") { dir =>
      def corpus(shift: Int) = spark.range(80).select(
        $"id".as("vec_id"),
        array((1 to 64).map(d =>
          (pmod(hash($"id" * lit(d + shift)), lit(1000)).cast("float") /
            lit(70.0f))): _*).as("embedding"))
      def centSum(): (Long, Double) = {
        val (staged, inline) = AnnQueries.stagedBitextCentsForTest(
          spark, dir)
        // staged ≡ inline, bit for bit: the parquet round-trip of the
        // micro-quantized means must not perturb a single double
        assert(staged.exceptAll(inline).count() === 0)
        assert(inline.exceptAll(staged).count() === 0)
        val r = staged.agg(count(lit(1)),
          sum(aggregate($"v", lit(0.0), (a, x) => a + x))).head
        (r.getLong(0), r.getDouble(1))
      }
      corpus(0).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val first = centSum()
      assert(first._1 === 16L) // k = max(16, 80/256)
      // unchanged corpus: served from the artifact, same values
      assert(centSum() === first)
      // in-place rewrite with different content: the fingerprint
      // changes, so the staged centroids must retrain (and re-match
      // the inline values on the NEW corpus)
      corpus(7).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val second = centSum()
      assert(second !== first,
        "stale staged centroids served after an in-place corpus rewrite")
    }
  }
}
