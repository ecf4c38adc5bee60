package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** The data-driven BPE encode kernel (BpeExpressions.BpeEncodeExpr)
  * and the driver-local trainer, against three independent anchors:
  * the unrolled fold (the old plan-structural encode), the
  * distributed Spark trainer, and a plain-Scala reference encode —
  * plus the scale property the kernel exists for: plan size flat in
  * the merge count at ≥1k merges. */
class BpeKernelSpec extends SparkSpec {
  import spark.implicits._

  private def corpusWords(dir: String): Seq[(String, Long)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(TextOps.tokensLower(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy("w")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** The unrolled fold form of encode — one plan node per merge (the
    * encode before the kernel), the kernel's independent reference. */
  private def bpeEncodeUnrolled(sym: Column,
                                merges: Seq[(String, String, Long)]): Column =
    merges.foldLeft(sym) { case (c, (a, b, _)) =>
      TextOps.bpeMergeOnce(c, a, b)
    }

  /** Reference encode: apply merges once each in rank order, one
    * greedy left-to-right pass per merge, in plain Scala. */
  private def refEncode(w: String,
                        merges: Seq[(String, String, Long)]): Seq[String] =
    merges.foldLeft(w.toCharArray.map(_.toString).toSeq) {
      case (syms, (a, b, _)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        out.toSeq
    }

  test("local trainer reproduces the distributed trainer's merge " +
    "table exactly (same counts, same tie order)") {
    val words = corpusWords("/root/testdata/sf0.001")
    val df = words.toDF("w", "cnt")
    val dist = TextOps.bpeTrainMerges(df, "w", "cnt", numMerges = 8)
    val local = TextOps.bpeTrainMergesLocal(words, numMerges = 8)
    assert(local === dist)
  }

  test("local trainer matches the distributed trainer on " +
    "supplementary-plane words (code points, not UTF-16 units)") {
    // Spark's split(w, "") keeps 😀 as ONE symbol; a toCharArray
    // trainer would see two surrogate halves and learn different
    // merges from round 1
    val words = Seq(("a😀b", 5L), ("a😀", 3L),
      ("xy", 2L))
    val df = words.toDF("w", "cnt")
    val dist = TextOps.bpeTrainMerges(df, "w", "cnt", numMerges = 3)
    val local = TextOps.bpeTrainMergesLocal(words, numMerges = 3)
    assert(local === dist)
    assert(dist.head._1 === "a" &&
      dist.head._2 === new String(Character.toChars(0x1F600)),
      s"top merge must join 'a' with the WHOLE emoji, got ${dist.head}")
  }

  test("kernel encode == unrolled fold == plain-Scala reference on " +
    "every corpus word under the trained table") {
    val words = corpusWords("/root/testdata/sf0.001")
    val merges = TextOps.bpeTrainMergesLocal(words, numMerges = 8)
    val df = words.toDF("w", "cnt")
      .select(col("w"),
        TextOps.bpeEncode(split(col("w"), ""), merges).as("kern"),
        bpeEncodeUnrolled(split(col("w"), ""), merges)
          .as("fold"))
      .collect()
    df.foreach { r =>
      val w = r.getString(0)
      val kern = r.getSeq[String](1)
      val fold = r.getSeq[String](2)
      assert(kern === fold, s"kernel vs fold diverged on '$w'")
      assert(kern === refEncode(w, merges),
        s"kernel vs scala reference diverged on '$w'")
      assert(kern.mkString === w, s"tokens must respell '$w'")
    }
  }

  /** ≥1k merges: the corpus vocab (31 distinct synthetic words)
    * exhausts after ~100 merges, so the scale point runs on a
    * generated 4k-word vocab with enough pair mass to sustain 1200
    * merges. */
  private def bigVocab: Seq[(String, Long)] =
    (0 until 4000).map { i =>
      // deterministic pseudo-words over a 6-letter alphabet, length 12
      val sb = new StringBuilder
      var x = i * 2654435761L & 0x7fffffffL
      (0 until 12).foreach { _ =>
        sb += ('a' + (x % 6).toInt).toChar; x = (x * 48271) % 2147483647L
      }
      (sb.toString, (i % 97 + 1).toLong)
    }.distinct

  test("1k+ merge table: kernel encode equals the reference at every " +
    "word, and the PLAN stays flat in the merge count") {
    val words = bigVocab
    val merges = TextOps.bpeTrainMergesLocal(words, numMerges = 1200)
    assert(merges.length >= 1000,
      s"vocab only sustained ${merges.length} merges")
    val df = words.toDF("w", "cnt")
    val enc = df.select(col("w"),
      TextOps.bpeEncode(split(col("w"), ""), merges).as("t"))
    // correctness at 1200 merges, all 4k words
    enc.collect().foreach { r =>
      val w = r.getString(0)
      assert(r.getSeq[String](1) === refEncode(w, merges),
        s"kernel diverged from reference on '$w'")
    }
    // plan-size flatness: 8 merges vs 1200 merges must plan the same
    // number of nodes and near-identical text (the old fold grew one
    // nested aggregate() per merge). Measured over a PARQUET-backed
    // frame — ConvertToLocalRelation eagerly evaluates projections
    // over a local Seq and would reduce every variant to its result
    // rows, flattening the comparison to nothing.
    val pdf = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(TextOps.tokensLower(col("text"))).as("w"))
    def planOf(m: Seq[(String, String, Long)]): String =
      pdf.select(TextOps.bpeEncode(split(col("w"), ""), m).as("t"))
        .queryExecution.optimizedPlan.toString
    val p8 = planOf(merges.take(8))
    val p1200 = planOf(merges)
    assert(p1200.linesIterator.size === p8.linesIterator.size,
      "plan NODE count must not grow with the merge count")
    // the only textual growth allowed is the expression's truncated
    // argument display (maxToStringFields caps it), never per-merge
    // plan structure
    assert(p1200.length <= p8.length + 512,
      s"plan text grew superlinearly: 8 merges -> ${p8.length} " +
        s"chars, 1200 merges -> ${p1200.length} chars")
    // and the unrolled fold demonstrably does NOT stay flat (the
    // motivation, kept honest)
    def foldPlanLen(m: Seq[(String, String, Long)]): Int =
      pdf.select(bpeEncodeUnrolled(split(col("w"), ""), m)
          .as("t"))
        .queryExecution.optimizedPlan.toString.length
    assert(foldPlanLen(merges.take(64)) > 4 * foldPlanLen(merges.take(8)),
      "the unrolled fold should grow ~linearly in merges")
  }

  /** Production-vocab point: a 32k-merge table (real tokenizer size —
    * GPT-2's table is 50k, Llama's 32k). The local trainer is
    * O(merges × corpus) and exists for 8-merge parity tests, so the
    * table here is CONSTRUCTED, not trained: all 26² single-char
    * pairs first, then 2-char × 2-char products. That satisfies the
    * kernel's trained-table ordering contract by construction —
    * every operand is a base symbol or the product of an earlier
    * merge, and a later merge can never create an occurrence of an
    * earlier pair (single chars only ever disappear; a product
    * symbol only forms pairs ranked later). */
  private def merges32k: Seq[(String, String, Long)] = {
    val twos = for (a <- 'a' to 'z'; b <- 'a' to 'z')
      yield (a.toString, b.toString, 2L)
    val prods = twos.map { case (a, b, _) => a + b }
    val fours = (for (x <- prods; y <- prods) yield (x, y, 1L))
      .take(32768 - twos.length)
    (twos ++ fours).toSeq
  }

  private def vocab50k: Seq[String] = {
    val words = (0 until 50500).map { i =>
      val sb = new StringBuilder
      var x = (i * 2654435761L + 12345) & 0x7fffffffL
      (0 until 16).foreach { _ =>
        sb += ('a' + (x % 26).toInt).toChar
        x = (x * 48271) % 2147483647L
      }
      sb.toString
    }.distinct
    assert(words.length >= 50000)
    words
  }

  test("32k-merge table over a 50k-word vocab: kernel matches the " +
    "reference on a sample, every output respells from valid " +
    "symbols, the plan stays flat, and the encode pass is timed") {
    val merges = merges32k
    assert(merges.length === 32768)
    val words = vocab50k
    // parquet-backed so ConvertToLocalRelation cannot fold the encode
    // into plan time (the timing below must measure EXECUTION)
    val dir = java.nio.file.Files
      .createTempDirectory("bpe32k").toString
    words.toDF("w").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/vocab.parquet")
    val pdf = spark.read.parquet(s"$dir/vocab.parquet")

    // plan flatness holds at 32k, same bound as the 1200-merge case
    def planOf(m: Seq[(String, String, Long)]): String =
      pdf.select(TextOps.bpeEncode(split(col("w"), ""), m).as("t"))
        .queryExecution.optimizedPlan.toString
    val p8 = planOf(merges.take(8))
    val p32k = planOf(merges)
    assert(p32k.linesIterator.size === p8.linesIterator.size,
      "plan NODE count must not grow with the merge count")
    assert(p32k.length <= p8.length + 512,
      s"plan text grew with merges: ${p8.length} -> ${p32k.length}")

    // timed encode point (recorded in the round notes): sum of token
    // counts forces every row through the kernel
    val t0 = System.nanoTime()
    val nTok = pdf
      .select(TextOps.bpeEncode(split(col("w"), ""), merges).as("t"))
      .agg(sum(size(col("t")))).head.getLong(0)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"32k-merge encode of ${words.length} words: " +
      f"$nTok tokens in $secs%.2f s")
    assert(nTok > 0)
    assert(secs < 120.0,
      f"32k-merge encode took $secs%.1f s — the kernel's per-row " +
        "cost must stay O(len²), independent of the merge count")

    // full-table correctness on a deterministic 200-word sample vs
    // the plain-Scala reference (refEncode at 32k merges is O(32k ×
    // len) per word — sample-sized on purpose)
    val sample = words.zipWithIndex
      .filter(_._2 % (words.length / 200) == 0).map(_._1).take(200)
    val enc = sample.toDF("w")
      .select(col("w"),
        TextOps.bpeEncode(split(col("w"), ""), merges).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    sample.foreach { w =>
      assert(enc(w) === refEncode(w, merges),
        s"kernel diverged from reference on '$w' at 32k merges")
    }

    // global invariants on ALL 50k words: the tokens respell the
    // word, and every token is a legal symbol (base char or a merge
    // product — checked by anti-join against the symbol table, never
    // a 33k-literal IN list)
    val encAll = pdf.select(col("w"),
      TextOps.bpeEncode(split(col("w"), ""), merges).as("t"))
    assert(encAll.where(concat_ws("", col("t")) =!= col("w"))
      .count() === 0, "some word failed to respell from its tokens")
    val validDf = (('a' to 'z').map(_.toString) ++
      merges.map { case (a, b, _) => a + b }).toDF("tok")
    val badTok = encAll.select(explode(col("t")).as("tok"))
      .join(validDf, Seq("tok"), "left_anti").count()
    assert(badTok === 0, "kernel emitted a non-vocabulary token")
  }

  test("t73 still rides the kernel: encode of an in-vocab word " +
    "equals its final training state") {
    val words = corpusWords("/root/testdata/sf0.001")
    val merges = TextOps.bpeTrainMergesLocal(words, numMerges = 8)
    // final training state = refEncode under the trained-table
    // contract; spot-lock the whole vocab through the KERNEL column
    val enc = words.toDF("w", "cnt")
      .select(col("w"), TextOps.bpeEncode(split(col("w"), ""), merges)
        .as("t")).collect()
    enc.foreach { r =>
      assert(r.getSeq[String](1) === refEncode(r.getString(0), merges))
    }
  }
}
