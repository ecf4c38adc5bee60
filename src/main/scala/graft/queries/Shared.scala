package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Stage
import graft.ops._

/** Helpers that queries of more than one family use: the table loader
  * `T`, the staged near-duplicate cluster labels, the training shuffle,
  * the unigram tokenizer trainer, the hashed-feature classifier and gate
  * flags, the IVF seed centroids, and the SQL fragments their oracles
  * share. A helper only one family uses stays private in that family's
  * file. */
object Shared {

  /** Table loader. The `events` table's `ts` has shipped in two parquet
    * layouts across driver testdata generations, and both must read:
    *  - timestamp[ns], which Spark 4 reads only as a long, under the
    *    legacy parquet nanos-as-long flag that `GraftSession` sets in
    *    every session (without it the read fails) — converted to
    *    TimestampType (µs) with integer division (`ns / 1000` as doubles
    *    would lose precision above 2^53; DuckDB likewise truncates
    *    ns → µs, so the engines agree);
    *  - timestamp[us] without UTC adjustment, which Spark reads as
    *    TIMESTAMP_NTZ — cast to TimestampType, value-preserving because
    *    `GraftSession` pins spark.sql.session.timeZone=UTC.
    * Either way downstream code sees one canonical TimestampType µs
    * column. */
  private[queries] def T(s: SparkSession, dir: String,
                          name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }).getOrElse(df)
  }

  /** Near-dup cluster labels for the documents table — the ONE place
    * the shingle→LSH-star-edge→connected-components pipeline is invoked
    * (t12/d5/t56/t57 all consume this). Returns (doc_id, cluster_id),
    * singletons self-labeled. See `Dedup.clusterLabels` for the
    * materialize-once contract at corpus scale. */
  /** Deterministic train-order shuffle (t67's engine): shard = the
    * first `shardHexWidth` hex chars of md5("shuf42:" + doc_id) →
    * 16^width shards, position = rank within shard. Each shard sorts
    * as ONE task, so the width must track the corpus: target
    * corpusBytes / 16^width ≲ ~1.5 GB for a spill-free single-task
    * sort. Width 2 → 256 shards (fine to ~400 GB of corpus; at
    * 100 TB that is ~400 GB PER SHARD — too big); width 4 → 65,536
    * shards ≈ 1.6 GB each at 100 TB (right); width 5 → ~100 MB.
    * Output is reproducible for a fixed (salt, width) — the knob is
    * data-independent. */
  private[graft] def trainShuffle(docs: DataFrame,
                                  shardHexWidth: Int): DataFrame = {
    require(shardHexWidth >= 1 && shardHexWidth <= 32,
      s"shardHexWidth must be in [1, 32], got $shardHexWidth")
    val w = Window.partitionBy("shard").orderBy("key", "doc_id")
    docs
      .select(col("doc_id"),
        md5(concat(lit("shuf42:"), col("doc_id").cast("string")))
          .as("key"))
      .withColumn("shard", substring(col("key"), 1, shardHexWidth))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  private[queries] def neardupLabels(s: SparkSession,
                                     dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"),
      graft.functions.SketchExpressions
        .wordShingles(TextOps.tokens(col("text")), 3).as("shingles"))
    Dedup.clusterLabels(docs, "doc_id", "shingles", k = 8, bands = 4)
  }
  private[queries] def corpusWordCounts(s: SparkSession,
                                        dir: String): DataFrame =
    T(s, dir, "documents")
      .select(explode(TextOps.tokensLower(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Memoized unigram-LM tokenizer (SentencePiece shape, Kudo 2018)
    * per corpus dir — hard-EM over the bounded word-count table, the
    * t115/t122 driver-loop pattern, with every quantity either an
    * exact integer or a quantized ln (micro-nats, the t97 lp_micro
    * precedent) so the DuckDB twin reproduces it bit-for-bit:
    *
    *  - words: ≤[[UnigramMaxWordLen]] chars (SentencePiece's own
    *    max-sentencepiece-length discipline — longer tokens are
    *    format noise: URLs, base64);
    *  - seed: all substrings up to 6 chars, weight = Σ word-count ×
    *    occurrences; top-[[UnigramSeedCap]] by (weight desc, piece)
    *    PLUS every single character (coverage guarantee — singles
    *    are never pruned);
    *  - [[UnigramRounds]]× hard EM: E = per-word Viterbi split under
    *    current integer costs (`UnigramExpressions.unigramEncode`,
    *    the piece-table-as-data kernel idiom of t73); M = prune to
    *    the top ⌈80%⌉ by (count desc, piece) keeping singles, then
    *    re-cost with Laplace +1: cost = round(ln(T/(c+1))·10⁶),
    *    T = Σ(c+1) over survivors.
    *
    * Driver state is piece-table-bounded (≤ seed cap + alphabet) per
    * round — the same collect class as t122's cell table. Scale: the
    * E-step runs over DISTINCT words (vocabulary-sized, not
    * corpus-sized), and the kernel's per-row cost is O(len·6) hash
    * lookups independent of the table size. */
  private val UnigramSeedCap = 512
  private val UnigramRounds = 3
  private[queries] val UnigramMaxWordLen = 16
  private[queries] def unigramWords(s: SparkSession, dir: String): DataFrame =
    corpusWordCounts(s, dir)
      .where(length(col("w")) <= UnigramMaxWordLen)
  /** The trained table, staged per corpus snapshot as `table.tsv` in
    * the `unigram_table` artifact (r14 verdict item #4): training
    * costs 3 EM rounds of Spark jobs, and the production cadence is
    * one training per snapshot with many consumers across many JVMs
    * (t133/t134 encodes, t131's release export). Every call reads the
    * ~500-row TSV on the driver — zero Spark jobs, no in-JVM memo. */
  private[queries] def trainedUnigram(
      s: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val conf = s.sparkContext.hadoopConfiguration
    val table = new org.apache.hadoop.fs.Path(
      Stage.artifact(s, dir, "unigram_table") { tmp =>
        val tsv = trainUnigram(s, dir).map { case (p, c, k) =>
          s"$p\t$c\t$k" }.mkString("\n")
        val f = new org.apache.hadoop.fs.Path(tmp, "table.tsv")
        val out = f.getFileSystem(conf).create(f, true)
        try out.write(tsv.getBytes("UTF-8")) finally out.close()
      }, "table.tsv")
    val in = table.getFileSystem(conf).open(table)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.split("\n").iterator.filter(_.nonEmpty).map { line =>
      val Array(p, c, k) = line.split("\t", 3)
      (p, c.toLong, k.toLong)
    }.toSeq
  }

  /** UTF-8 byte order (unsigned lexicographic) — the collation vocab
    * ids are defined under (r15 advice): Scala's default String order
    * is UTF-16 code-unit order, which diverges from binary/UTF-8
    * order for [U+E000,U+FFFF] vs supplementary-plane characters, so
    * a sortBy(_._1) table would assign different ids than the DuckDB
    * twin's row_number() OVER (ORDER BY p) on a non-ASCII corpus.
    * Comparing the UTF-8 byte sequences makes the id scheme match
    * binary collation for ALL inputs (identical on ASCII). */
  private val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    var r = 0
    while (r == 0 && i < n) {
      r = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else x.length - y.length
  }
  private def trainUnigram(s: SparkSession,
                           dir: String): Seq[(String, Long, Long)] = {
        def isSingle(p: String): Boolean =
          p.codePointCount(0, p.length) == 1
        val words = unigramWords(s, dir).localCheckpoint(false)
        val seedAll = words
          .select(col("cnt"), explode(expr(
            """flatten(transform(sequence(1, char_length(w)),
                 i -> transform(
                   sequence(1, least(6, char_length(w) - i + 1)),
                   k -> substring(w, i, k))))""")).as("p"))
          .groupBy("p").agg(sum("cnt").as("wgt"))
        val seed = (seedAll
            .orderBy(col("wgt").desc, col("p")).limit(UnigramSeedCap)
            .collect() ++
          seedAll.where(length(col("p")) === 1).collect())
          .map(r => (r.getString(0), r.getLong(1))).distinct
        val seedTotal = seed.map(_._2).sum
        // all piece orderings under utf8Order (binary collation):
        // the table's final order IS the vocab id assignment, and the
        // prune tie-break decides vocabulary membership — both must
        // match the DuckDB twin's binary string comparisons for
        // non-ASCII corpora, not just this testdata's ASCII
        var table: Seq[(String, Long)] = seed.map { case (p, w) =>
          (p, math.round(math.log(seedTotal.toDouble / w) * 1e6))
        }.sortBy(_._1)(utf8Order)
        var lastCounts = Map.empty[String, Long]
        for (_ <- 1 to UnigramRounds) {
          val counts = words
            .select(col("cnt"),
              explode(graft.functions.UnigramExpressions
                .unigramEncode(col("w"), table)).as("p"))
            .groupBy("p").agg(sum("cnt").as("c"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val withC = table.map { case (p, _) =>
            (p, counts.getOrElse(p, 0L)) }
          val nKeep = (4 * withC.size + 4) / 5
          val kept = withC.sortBy { case (p, c) => (-c, p) }(
              Ordering.Tuple2(implicitly[Ordering[Long]], utf8Order))
            .zipWithIndex
            .collect { case ((p, c), i) if i < nKeep || isSingle(p) =>
              (p, c) }
          val t = kept.map(_._2 + 1).sum
          table = kept.map { case (p, c) =>
            (p, math.round(math.log(t.toDouble / (c + 1)) * 1e6))
          }.sortBy(_._1)(utf8Order)
          lastCounts = kept.toMap
        }
        table.map { case (p, cost) => (p, lastCounts(p), cost) }
  }

  /** Materialize-once cluster labels — `Dedup.clusterLabels`' scaladoc
    * contract made real instead of prose: the first caller per corpus
    * snapshot computes the t12 label table ONCE and stages it via
    * `Writers.writeWithManifest` (16 cluster-hash shards, min/max
    * stats); every d5/t56/t57/t72/t86-style report then derives from
    * the ARTIFACT scan — the LSH shingle/signature pass and the CC
    * fixpoint never re-run per consumer (plan-locked: the derived
    * plans contain zero graft_minhash/word_shingles work). t12 itself
    * stays on the live pipeline so the machinery keeps its own
    * oracle + bench measurement. A fresh JVM reuses the artifact of
    * an unchanged snapshot — the production cadence: one labeling per
    * corpus snapshot, many consumers across many jobs. */
  private[queries] def stagedNeardupLabels(s: SparkSession,
                                           dir: String): DataFrame = {
    val path = Stage.artifact(s, dir, "cluster_labels") { tmp =>
      graft.sink.Writers.writeWithManifest(
        neardupLabels(s, dir)
          .withColumn("shard", pmod(col("cluster_id"), lit(16L))),
        tmp, Seq("shard"), Seq("doc_id", "cluster_id"))
    }
    s.read.parquet(path).select("doc_id", "cluster_id")
  }

  /** The 16 deterministic seed centroids shared by q36/q39/t69 (first
    * 16 vectors as seeds; the SQL twins carry the same `vec_id < 16`
    * literal — ONE Scala definition so the seeding scheme cannot
    * desynchronize between its three consumers). */
  private[queries] def seedCentroids(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding"))

  /** The IVF-assignment CTE block shared by the q36 and t69 oracles
    * (`a` = per-vector nearest seed centroid, dist/cid tie-break
    * matching `Vectors.ivfAssign`). */
  private[queries] val ivfAssignSql: String =
    """WITH e AS (
         SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
         FROM embeddings),
       c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
       d AS (
         SELECT vec_id, cid,
           list_sum([(v[i]-cv[i])*(v[i]-cv[i])
                     FOR i IN generate_series(1, 64)]) AS dist
         FROM e, c),
       a AS (
         SELECT vec_id, cid FROM d
         QUALIFY row_number() OVER (PARTITION BY vec_id
           ORDER BY dist, cid) = 1)"""

  /** Minhash/band CTE block — 3-token shingles, 8 hashes, 4 bands
    * over `documents`: the SQL twin of the production LSH index
    * surface (`Dedup.lshBandKeys` / `minhashSig`). ONE definition
    * shared by every oracle that probes that surface (t2/t20/t31/
    * t56/t57/t58/t76/d5 and the cluster-label block behind t12/t72)
    * so a change to the index scheme cannot leave a stale twin
    * behind. */
  private[queries] val minhashBandsSql: String =
    """t AS (
         SELECT doc_id, string_split_regex(text, '\s+') AS toks
         FROM documents),
       sh AS (
         SELECT doc_id,
           [array_to_string(toks[i:i+2], ' ')
            FOR i IN generate_series(1, len(toks)-2)] AS s
         FROM t WHERE len(toks) >= 3),
       mh AS (
         SELECT doc_id,
           [list_min([md5(k::VARCHAR || '|' || x) FOR x IN s])
            FOR k IN generate_series(1, 8)] AS sig
         FROM sh),
       bands AS (
         SELECT doc_id, b, md5(sig[2*b-1] || sig[2*b]) AS bh
         FROM mh, unnest(generate_series(1, 4)) AS u(b))"""

  /** Reference-bigram-LM scoring CTE block (`sc` = (doc_id, lang,
    * lm_lp)) — the SQL twin of `TextOps.bigramLm` + `bigramLmScore`,
    * shared by the t75 and t78 oracles so the scoring scheme cannot
    * drift between the tercile split and the rank fusion. */
  private[queries] val bigramScoreSql: String =
    """t AS (
         SELECT doc_id, lang, source,
           string_split_regex(lower(text), '\s+') AS toks
         FROM documents),
       b AS (
         SELECT doc_id, lang, source,
           unnest([array_to_string(toks[i:i+1], ' ')
                   FOR i IN generate_series(1, len(toks)-1)]) AS bg
         FROM t WHERE len(toks) >= 2),
       bg0 AS (
         SELECT lang, bg, count(*) AS cb FROM b
         WHERE source = 'src0' GROUP BY 1, 2),
       ug0 AS (
         SELECT lang, w, count(*) AS cu FROM (
           SELECT lang, source, unnest(toks) AS w FROM t)
         WHERE source = 'src0' GROUP BY 1, 2),
       v AS (SELECT lang, count(*) AS v FROM ug0 GROUP BY 1),
       sc AS (
         SELECT doc_id, b.lang,
           round(avg(ln((coalesce(cb, 0) + 1)::DOUBLE
             / (coalesce(cu, 0) + v.v)::DOUBLE)), 6) + 0.0 AS lm_lp
         FROM b
         LEFT JOIN bg0 ON bg0.lang = b.lang AND bg0.bg = b.bg
         LEFT JOIN ug0 ON ug0.lang = b.lang
           AND ug0.w = split_part(b.bg, ' ', 1)
         JOIN v ON v.lang = b.lang
         GROUP BY 1, 2)"""

  /** The near-dup cluster-label CTE block shared by the t12 and t72
    * oracles (`lbl` = per-doc min-reachable-id component label via the
    * recursive CTE — the SQL twin of `Dedup.clusterLabels`). ONE
    * definition so the two oracles cannot drift. */
  private[queries] val neardupLabelSql: String =
    s"""WITH RECURSIVE $minhashBandsSql,
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
       sym AS (
         SELECT id_a AS src, id_b AS dst FROM pairs
         UNION SELECT id_b, id_a FROM pairs),
       reach(id, r) AS (
         SELECT src, dst FROM sym
         UNION
         SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.id),
       lbl AS (
         SELECT d.doc_id,
           CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin THEN d.doc_id
                ELSE m.rmin END AS cluster_id
         FROM documents d
         LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
           ON m.id = d.doc_id)"""

  /** Unigram-LM twins (t132/t133/t134): the hard-EM of
    * `trainedUnigram` unrolled into sequential DuckDB CTEs. `uw` is
    * the ≤16-char word-count table; the seed lands `ut0`/`um0`
    * (piece table / piece→cost MAP); each round r appends a 16-step
    * Viterbi DP (uv{r}_i: dp list grows one position per CTE), a
    * 16-step backtrack (ub{r}_j: longest-k tie-break, the kernel's
    * rule), the count/prune/re-cost tail (uc/usv/ut/um). Block 4 is
    * the final ENCODE pass under um3 (a fresh E-step — the trained
    * costs, not round 3's pre-prune path). */
  private val unigramBaseSql: String =
    raw"""uw AS (
         SELECT w, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(string_split_regex(lower(text), '\s+'))
                 AS w
               FROM documents)
         WHERE len(w) > 0 AND len(w) <= 16
         GROUP BY w),
       us0 AS (
         SELECT p, CAST(sum(cnt) AS BIGINT) AS wgt
         FROM (SELECT cnt,
                 unnest(flatten([[substr(w, i, k)
                   FOR k IN generate_series(1,
                     least(6, len(w) - i + 1))]
                   FOR i IN generate_series(1, len(w))])) AS p
               FROM uw)
         GROUP BY p),
       us1 AS (
         SELECT p, wgt FROM us0
         QUALIFY row_number() OVER (ORDER BY wgt DESC, p) <= 512),
       us AS (
         SELECT p, wgt FROM us1
         UNION
         SELECT p, wgt FROM us0 WHERE len(p) = 1),
       ut0 AS (
         SELECT p,
           CAST(round(ln((SELECT sum(wgt) FROM us)::DOUBLE / wgt)
             * 1000000) AS BIGINT) AS cost
         FROM us),
       um0 AS (SELECT map(list(p ORDER BY p), list(cost ORDER BY p))
                 AS m
               FROM ut0)"""

  private[queries] def unigramViterbiSql(r: Int): String = {
    val dp = (1 to 16).map { i =>
      s"""uv${r}_$i AS (
           SELECT w, cnt, m, list_append(dp,
             CASE WHEN len(w) >= $i THEN
               list_min([dp[$i - k + 1]
                   + m[substr(w, $i - k + 1, k)][1]
                 FOR k IN generate_series(1, least(6, $i))])
             ELSE NULL END) AS dp
           FROM uv${r}_${i - 1})"""
    }.mkString(",\n         ")
    val bt = (1 to 16).map { j =>
      s"""ub${r}_$j AS (
           SELECT w, cnt, m, dp,
             CASE WHEN b > 0 THEN b - kk ELSE b END AS b,
             CASE WHEN b > 0
               THEN list_prepend(substr(w, b - kk + 1, kk), ps)
               ELSE ps END AS ps
           FROM (SELECT *,
               CASE WHEN b > 0 THEN
                 list_max([k FOR k IN generate_series(1, least(6, b))
                   IF dp[b - k + 1] IS NOT NULL
                     AND m[substr(w, b - k + 1, k)][1] IS NOT NULL
                     AND dp[b - k + 1]
                       + m[substr(w, b - k + 1, k)][1] = dp[b + 1]])
               ELSE NULL END AS kk
             FROM ub${r}_${j - 1}) z)"""
    }.mkString(",\n         ")
    s"""uv${r}_0 AS (
         SELECT uw.w, uw.cnt, um${r - 1}.m, [CAST(0 AS BIGINT)] AS dp
         FROM uw CROSS JOIN um${r - 1}),
       $dp,
       ub${r}_0 AS (
         SELECT w, cnt, m, dp, len(w) AS b,
           CAST([] AS VARCHAR[]) AS ps
         FROM uv${r}_16),
       $bt"""
  }

  private def unigramRoundSql(r: Int): String =
    s"""${unigramViterbiSql(r)},
       uc$r AS (
         SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
         FROM (SELECT cnt, unnest(ps) AS piece FROM ub${r}_16)
         GROUP BY piece),
       usv$r AS (
         SELECT p, c FROM (
           SELECT t.p AS p, coalesce(u.c, 0) AS c
           FROM ut${r - 1} t LEFT JOIN uc$r u ON t.p = u.piece) z
         QUALIFY row_number() OVER (ORDER BY c DESC, p)
           <= (4 * count(*) OVER () + 4) // 5 OR len(p) = 1),
       ut$r AS (
         SELECT p, c,
           CAST(round(ln((SELECT sum(c + 1) FROM usv$r)::DOUBLE
             / (c + 1)) * 1000000) AS BIGINT) AS cost
         FROM usv$r),
       um$r AS (SELECT map(list(p ORDER BY p), list(cost ORDER BY p))
                  AS m
                FROM ut$r)"""

  private[queries] lazy val unigramTrainSql: String =
    s"""$unigramBaseSql,
       ${(1 to 3).map(unigramRoundSql).mkString(",\n       ")}"""

  /** t7's quality-score formula as a DuckDB expression over `text` —
    * one definition shared by the t7 twin and every oracle that
    * orders by quality (t95), so the consumers cannot drift from the
    * artifact. Plain (non-interpolated) literal: the regex
    * backslashes must reach DuckDB verbatim. */
  private[queries] val qScoreSql: String =
    """round(
           least(CAST(len(string_split_regex(text,'\s+')) AS DOUBLE)/100.0,
                 1.0) * 0.4
           + CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
             / greatest(CAST(len(text) AS DOUBLE), 1.0) * 0.3
           + CAST(len(list_filter(string_split_regex(lower(text),'\s+'),
               x -> list_contains(
                 ['the','and','of','to','in','is','that','it'], x)))
               AS DOUBLE)
             / greatest(CAST(len(string_split_regex(text,'\s+')) AS DOUBLE),
                        1.0) * 0.2
           + least((CAST(len(text) AS DOUBLE)
                    - len(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / greatest(CAST(len(text) AS DOUBLE), 1.0) * 10.0, 1.0)
             * 0.1, 6)"""

  /** d6's BPE-ish token count as a DuckDB expression over `text` —
    * the shared tokens-per-document yardstick (d6, t90, t95 budget). */
  private[queries] val bpeCountSql: String =
    """len(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s'']+'))"""

  /** The classifier family's per-doc bucket-count table
    * (doc_id, source, b, __c): unigram + 2-shingle features into 256
    * md5-prefix buckets — ONE definition for the whole family (t81/
    * t107 scoring, t115/t116 distillation) so the bucketing scheme
    * cannot desynchronize between consumers; the SQL twin is
    * hashClfSql's t/f/h block. Since r20 the counts come from the
    * one-pass `featureBucketCounts` kernel instead of exploding every
    * feature occurrence into a row and hash-aggregating the 2M-row
    * stream (guide §4; kernel ≡ explode path pinned in
    * SketchExprSpec). posexplode_OUTER of the 256-long histogram +
    * the c>0 filter keeps only occupied buckets — outer, because an
    * inner generate lets InferFiltersFromGenerate push a
    * `size(kernel(…)) > 0 AND isnotnull(kernel(…))` filter below the
    * projection, RE-EVALUATING the md5 kernel once more per scan
    * (measured in the r20 plans: 2 evals/scan; the outer form has 1 —
    * the only extra outer rows are null-__h docs, which `__c > 0`
    * drops exactly as the inner generate did); b = "%02x" of the
    * bucket index ≡ substring(md5(f), 1, 2). The groupBy below is
    * value-wise an identity (one row per (doc, b) already) but
    * re-establishes the exchange every consumer (Bayes model,
    * t115/t116's ppm features) re-enters through — the AQE-reuse
    * contract the old shape had. */
  private[queries] def docBucketCounts(s: SparkSession,
                                       dir: String): DataFrame =
    T(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.SketchExpressions
          .featureBucketCounts(TextOps.tokensLower(col("text")))
          .as("__h"))
      .select(col("doc_id"), col("source"),
        posexplode_outer(col("__h")).as(Seq("__pos", "__c")))
      .where(col("__c") > 0)
      .select(col("doc_id"), col("source"),
        format_string("%02x", col("__pos")).as("b"), col("__c"))
      .groupBy("doc_id", "source", "b")
      .agg(sum(col("__c")).as("__c"))

  /** t81's hashed-feature classifier scores, per doc WITH the source
    * column (t81 drops it; t107's calibration audit bins on it) — one
    * definition so the audit scores exactly the classifier it audits.
    * Laplace-smoothed positive rate per bucket in integer ppm, per-doc
    * mean over a broadcast of the 256-row model. */
  /** The trained 256-bucket model as ONE broadcastable row
    * (warr[i] = w_ppm of bucket i): the Bayes aggregation over
    * docBucketCounts (unchanged arithmetic), pivoted into an array
    * indexed by bucket position. Buckets no document occupies get 0 —
    * score-neutral, since every doc's histogram is 0 there. */
  private def classifierModelArr(s: SparkSession,
                                 dir: String): DataFrame =
    docBucketCounts(s, dir).groupBy("b")
      .agg(sum(when(col("source").isin("src0", "src1"), col("__c"))
        .otherwise(0L)).as("cpos"),
        sum(col("__c")).as("ctot"))
      .select(conv(col("b"), 16, 10).cast("int").as("__pos"),
        expr("(1000000 * (cpos + 1)) div (ctot + 2)").as("w_ppm"))
      .agg(map_from_entries(
        collect_list(struct(col("__pos"), col("w_ppm")))).as("__m"))
      .select(transform(sequence(lit(0), lit(255)),
        i => coalesce(element_at(col("__m"), i), lit(0L))).as("warr"))

  private[queries] def hashClassifierScores(s: SparkSession,
                                            dir: String): DataFrame = {
    // Scoring is a MAP-SIDE dot product against the broadcast 256-long
    // weight array (r20, guide §2.3/§2.4): with the histogram kernel
    // in place, sw = Σ_b hist[b]·warr[b] and n_feats = Σ_b hist[b] —
    // exact long sums of the same terms the old posexplode → groupBy →
    // broadcast-join → re-agg pipeline produced (order-free integer
    // addition; corpus-unoccupied buckets contribute hist[b]·0 = 0,
    // matching their absence from the old inner join). That drops the
    // per-doc exchange and join from every scoring consumer; only the
    // model pass still aggregates the occupied-bucket rows. The
    // text-IS-NOT-NULL filter reproduces the old membership (null
    // text → null histogram → no exploded rows → absent from scores)
    // with a scan-pushable predicate instead of a filter on the kernel
    // output, which pushdown would duplicate.
    T(s, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.SketchExpressions
          .featureBucketCounts(TextOps.tokensLower(col("text")))
          .as("__h"))
      .crossJoin(broadcast(classifierModelArr(s, dir)))
      .select(col("doc_id"), col("source"),
        aggregate(col("__h"), lit(0L), (a, c) => a + c).as("n_feats"),
        aggregate(zip_with(col("__h"), col("warr"), (c, w) => c * w),
          lit(0L), (a, x) => a + x).as("sw"))
      .select(col("doc_id"), col("source"), col("n_feats"),
        expr("sw div n_feats").as("score_ppm"))
  }

  /** Per-doc quality-gate flags shared by t127 (agreement matrix) and
    * t128 (contingency cube): ONE corpus pass computes all three
    * gates — Gopher rules (t46's predicate), the hashed Bayes
    * classifier (t81's score > 0.5), and the integer 3-gram
    * repetition gate (t16's metric, dup fraction ≤ 20% in ppm) —
    * plus the doc's token count. One definition so the two reports
    * can never disagree about what a gate means. */
  private[queries] def gateFlags(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokensLower(col("text"))
    val grams3 = expr("""CASE WHEN size(__toks) >= 3 THEN
        transform(sequence(0, size(__toks) - 3),
          i -> concat_ws(' ', slice(__toks, i + 1, 3)))
        ELSE CAST(array() AS array<string>) END""")
    // Gopher/repetition gates and the classifier score stay TWO scans
    // joined on doc_id — a single fused projection carrying the gopher
    // composite + the 3-gram CASE + the 256-bucket kernel + the dot
    // was MEASURED SLOWER (r20: t127 1.78 → 2.19 s isolated; the
    // marginal cost of the gopher expressions more than doubles inside
    // the giant projection — generated-code/JIT degradation), while
    // the join's score side is now the cheap map-side-dot scorer (one
    // kernel scan, no per-doc aggregate exchange).
    T(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tok"),
        TextOps.gopherPass(toks).as("g"), toks.as("__toks"))
      .withColumn("__g3", grams3)
      .withColumn("r",
        expr("""size(__g3) = 0 OR
          1000000 - CAST(size(array_distinct(__g3)) AS BIGINT)
            * 1000000 DIV size(__g3) <= 200000"""))
      .join(hashClassifierScores(s, dir)
        .select(col("doc_id"), col("score_ppm"),
          (col("score_ppm") > 500000).as("c")),
        Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("g"), col("c"), col("r"), col("score_ppm"))
  }

  /** DuckDB CTE block for [[hashClassifierScores]] — ends in `sc`
    * (doc_id, source, n_feats, score_ppm); shared by the t81 and
    * t107 twins. Plain literal for the regex backslash. */
  private[queries] val hashClfSql: String =
    """t AS (
           SELECT doc_id, source,
             string_split_regex(lower(text), '\s+') AS toks
           FROM documents),
         f AS (
           SELECT doc_id, source, unnest(toks) AS f FROM t
           UNION ALL
           SELECT doc_id, source,
             unnest([array_to_string(toks[i:i+1], ' ')
                     FOR i IN generate_series(1, len(toks)-1)]) AS f
           FROM t WHERE len(toks) >= 2),
         h AS (SELECT doc_id, source, substr(md5(f), 1, 2) AS b FROM f),
         m AS (
           SELECT b, CAST((1000000 *
               (sum(CASE WHEN source IN ('src0', 'src1')
                    THEN 1 ELSE 0 END) + 1))
             // (count(*) + 2) AS BIGINT) AS w_ppm
           FROM h GROUP BY b),
         sc AS (
           SELECT doc_id, source, count(*) AS n_feats,
             CAST(sum(w_ppm) // count(*) AS BIGINT) AS score_ppm
           FROM h JOIN m USING (b)
           GROUP BY doc_id, source)"""

  /** The gate-flags CTE chain shared by the t127/t128 twins: rides
    * hashClfSql's t/h/m/sc and gopherMetricSql's gm, adds the g3/rep
    * repetition gate and lands `gates(doc_id, source, n_tok, g, c,
    * r)` — the SQL twin of the Scala `gateFlags`. Defined lazily at
    * the use sites via string interpolation (hashClfSql/gopher vals
    * are declared below). */
  private[queries] lazy val gateFlagsSql: String =
    raw"""$hashClfSql,
         $gopherMetricSql,
         g3 AS (
           SELECT doc_id, CASE WHEN len(toks) >= 3
             THEN [array_to_string(toks[i:i+2], ' ')
                   FOR i IN generate_series(1, len(toks) - 2)]
             ELSE [] END AS grams
           FROM t),
         rep AS (
           SELECT doc_id,
             (len(grams) = 0 OR 1000000
               - CAST(len(list_distinct(grams)) AS BIGINT) * 1000000
                 // len(grams) <= 200000) AS r
           FROM g3),
         nt AS (
           SELECT doc_id, CAST(len(string_split_regex(text, '\s+'))
             AS BIGINT) AS n_tok
           FROM documents),
         gates AS (
           SELECT sc.doc_id, sc.source, nt.n_tok,
             ($gopherPassSql) AS g,
             sc.score_ppm > 500000 AS c, rep.r AS r, sc.score_ppm
           FROM sc JOIN gm ON gm.doc_id = sc.doc_id
             JOIN rep ON rep.doc_id = sc.doc_id
             JOIN nt ON nt.doc_id = sc.doc_id)"""

  /** Gopher metric CTE `gm` (doc_id, nw, ml, af, ns) over a `t`
    * CTE's (doc_id, toks), plus the pass predicate over gm's
    * columns — the SQL twins of TextOps.gopherNWords/MeanLen/
    * AlphaFrac/NStop/gopherPass. ONE definition (the minhashBandsSql
    * pattern) shared by the t46 twin and logregBaseSql so a
    * threshold tweak cannot desynchronize the rule gate from the
    * distillation teacher. */
  private[queries] val gopherMetricSql: String =
    """gm AS (SELECT doc_id,
             len(toks) AS nw,
             CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
               / len(toks) AS ml,
             CAST(len(list_filter(toks,
                 x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / len(toks) AS af,
             len(list_filter(toks, x -> x IN ('the','be','to','of',
                 'and','that','have','with','it','in'))) AS ns
           FROM t)"""
  private[queries] val gopherPassSql: String =
    """nw BETWEEN 50 AND 100000 AND ml BETWEEN 3 AND 10
                  AND af >= 0.8 AND ns >= 2"""

  /** Canonical-text md5 (t54's normalization) as a DuckDB expression
    * over `text` — shared by the t98/t105 twins so the dedup key
    * cannot drift from the t54 artifact. Plain literal: the regex
    * backslash must reach DuckDB verbatim. */
  private[queries] val canonHashSql: String =
    """md5(trim(regexp_replace(lower(nfc_normalize(text)),
               '\s+', ' ', 'g')))"""
}
