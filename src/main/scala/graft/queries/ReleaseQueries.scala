package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Stage
import graft.ops._
import Shared._

/** CDC and release queries: snapshot diffs, change-log merge and time
  * travel, shard manifests, TFRecord export, and the end-to-end release
  * pipeline with its card and consumer. */
object ReleaseQueries {

  /** The deterministic CDC demo feed shared by t79 (full merge) and
    * t120 (time travel) — one definition so the two queries and both
    * oracles describe the same change log: seq 1 updates %10==3,
    * deletes %10==5, inserts %10==7 (shifted ids); seq 2 deletes
    * %100==3 (overriding their seq-1 update). */
  private def cdcDemoDelta(base: DataFrame): DataFrame = {
    val upd = base.where(col("doc_id") % 10 === 3)
      .withColumn("text", concat(col("text"), lit(" [rev2]")))
      .withColumn("__op", lit("update")).withColumn("__seq", lit(1L))
    val del = base.where(col("doc_id") % 10 === 5)
      .withColumn("__op", lit("delete")).withColumn("__seq", lit(1L))
    val ins = base.where(col("doc_id") % 10 === 7)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("__op", lit("insert")).withColumn("__seq", lit(1L))
    val del2 = base.where(col("doc_id") % 100 === 3)
      .withColumn("__op", lit("delete")).withColumn("__seq", lit(2L))
    upd.unionByName(del).unionByName(ins).unionByName(del2)
  }

  /** The composed release chain S0–S5 (ingest → gates → keep-best
    * dedup → span decontam/redact → token budget → shuffle + REAL
    * tokenizer ids), shared by t131 (TFRecord export + decoded-shard
    * gate) and t135 (data card), MEMOIZED per (corpus snapshot, JVM):
    * one run per snapshot, both consumers read its checkpointed
    * frames. Directory protocol: each chain execution owns a fresh
    * immutable run dir under the corpus-keyed root (`Release.runDir`,
    * keyed by applicationId + sequence), so concurrent sessions — and
    * successive snapshots within one session — never touch each
    * other's files; t131 publishes the run via the atomic `_latest`
    * pointer after the export lands, exactly once per run dir. */
  private case class ReleaseRun(relRoot: String, relDir: String,
    nQuar: Long, docs: DataFrame, gatePass: DataFrame, kb: DataFrame,
    kept: DataFrame, art: DataFrame, vocabSize: Long)

  // The chain is deterministic per (dir, corpus snapshot), and before
  // r16 each of t131 and t135 ran it INDEPENDENTLY — the suite paid
  // the whole ingest→gates→dedup→redact→budget chain twice per corpus
  // (~40 s duplicated at 100×). The memo's appId guard keeps it from
  // serving checkpointed frames of a stopped session.
  private val releaseMemo = new Stage.Memo[ReleaseRun]
  // each chain EXECUTION owns a fresh, never-rewritten run dir
  // (appId + a per-JVM sequence): once a dir is published via
  // _latest, NOTHING writes under it again — a same-session re-run
  // serves the memo, and a corpus rewrite lands in a NEW dir and only
  // then swaps the pointer (r15 advice: the old scheme reused the
  // appId dir, so a re-run's stale-shard clear could briefly empty a
  // dir a concurrent reader had just resolved).
  private val releaseSeq = new java.util.concurrent.atomic.AtomicLong()
  // export-once latch keyed by run dir: computeIfAbsent both
  // serializes concurrent exporters of one run and blocks them until
  // the export + publish completes
  private val releaseExported = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.Boolean]()
  /** TEST hook: the run dir the chain currently resolves to. */
  private[graft] def releaseRunDirForTest(s: SparkSession,
                                          dir: String): String =
    releaseChain(s, dir).relDir

  private def releaseChain(s: SparkSession, dir: String): ReleaseRun =
    releaseMemo(s, dir)(
      runReleaseChain(s, dir, s"/tmp/graft_release/${Stage.key(dir)}"))

  private def runReleaseChain(s: SparkSession, dir: String,
                              relRoot: String): ReleaseRun = {
    val relDir = graft.sink.Release.runDir(relRoot,
      s"${s.sparkContext.applicationId}_${releaseSeq.incrementAndGet()}")
    // S0 — write the corpus as sharded .jsonl.gz, read it back with
    // the quarantine contract; all downstream TEXT flows from here
    val cols = Seq("doc_id", "source", "text")
    graft.ingest.Jsonl.write(
      T(s, dir, "documents").select(cols.map(col): _*),
      cols, s"$relDir/jsonl")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val (clean, corrupt) =
      graft.ingest.Jsonl.readCounted(s, s"$relDir/jsonl", schema)
    val nQuar = corrupt.count() // bounded: corruption count scalar
    // ingested docs feed gates-join, q-score, spans AND the redact
    // join — materialize the parse once (t114 idiom)
    val docs = clean.localCheckpoint(false)
    // S1 — gate flags (shared gateFlags kernel; flag tables key by
    // doc_id onto the ingested rows, whose identity S0 just proved).
    // The classifier gate is SELF-CALIBRATED here: score_ppm above
    // the corpus median (the CCNet percentile-cut shape, integer-
    // exact via the t114 histogram-median idiom) — the demo
    // classifier's absolute 500000 threshold passes zero docs on
    // this corpus (max ≈ 120k ppm), which would gate an empty
    // release. t127/t128 keep the absolute flag; a release keeps
    // the top half.
    val gf = gateFlags(s, dir)
      .select("doc_id", "g", "r", "score_ppm")
      .localCheckpoint(false) // feeds the median AND the row gate
    val med = gf.groupBy("score_ppm").agg(count(lit(1)).as("__c"))
      .agg(expr("percentile(score_ppm, 0.5D, __c)").as("__med"))
    val gatePass = gf.where(col("g") && col("r"))
      .crossJoin(broadcast(med))
      .where(col("score_ppm") > col("__med"))
      .select("doc_id")
    val q = docs.select(col("doc_id"),
      TextOps.qualityScoreFrom(
        graft.functions.SketchExpressions.textStats(col("text")))
        .as("q"))
    // S2 — keep-best per near-dup cluster among gate survivors
    val wkb = Window.partitionBy("cluster_id")
      .orderBy(col("q").desc, col("doc_id"))
    val kb = docs.select("doc_id").join(gatePass, Seq("doc_id"))
      .join(stagedNeardupLabels(s, dir), Seq("doc_id"))
      .join(q, Seq("doc_id"))
      .withColumn("__rk", row_number().over(wkb))
      .where(col("__rk") === 1)
      .select("doc_id", "q")
    // S3 — span decontam vs the full eval slice, then t47 redaction
    val spans = Spans.decontamSpans(docs, "doc_id", "text",
      n = 8, isEval = col("doc_id") % 7 === 0)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    val red = kb.where(col("doc_id") % 7 =!= 0)
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("q"),
        TextOps.tokens(col("text")).as("toks"),
        coalesce(col("spans"),
          array().cast("array<struct<s:bigint,e:bigint>>")).as("sp"))
      .select(col("doc_id"), col("q"),
        filter(col("toks"), (t, i) =>
          !exists(col("sp"),
            sp => (i + 1) >= sp("s") && (i + 1) <= sp("e"))).as("kept"))
      .withColumn("tok", size(col("kept")).cast("long"))
    // S4 — t95 budget cut: keep the top-quality quarter of tokens
    val started = Windows.twoLevelPrefixSum(red, Seq.empty,
      (-round(col("q") * lit(10000.0))).cast("long"),
      Seq(col("q").desc, col("doc_id")), col("tok"), "start")
    val total = red.agg(sum(col("tok")).cast("long").as("__total"))
    val kept = started.crossJoin(broadcast(total))
      .where(col("start") * 4 < col("__total"))
      .select("doc_id", "kept", "tok")
      // feeds trainShuffle AND the artifact join — run the
      // gates/dedup/redact/budget chain exactly once
      .localCheckpoint(false)
    // S5 — t67 shuffle + the release columns. input_ids are the
    // TRAINED unigram tokenizer's vocab ids (t132's table; id =
    // sorted-piece rank, the twin's row_number()-1) — real ids, not
    // the r14 md5-hash checksum, so the decoded-shard gate covers
    // the tokenizer → export seam. Tokens beyond the trainer's
    // 16-char word cap map to the single UNK id (= vocab size);
    // everything shorter is segmentable by construction (singles are
    // never pruned, and the release corpus IS the training corpus).
    // Per-token in-row Viterbi (O(len·6) hash lookups) keeps
    // tokenization inside the same map stage as the shuffle columns —
    // embarrassingly parallel, no distinct-word join/shuffle.
    val uni = trainedUnigram(s, dir)
    val uniCosts = uni.map { case (p, _, c) => (p, c) }
    val unkId = uni.size.toLong
    val art = kept
      .join(trainShuffle(kept.select("doc_id"), shardHexWidth = 1),
        Seq("doc_id"))
      .withColumn("key",
        md5(concat(lit("shuf42:"), col("doc_id").cast("string"))))
      .withColumn("input_ids", flatten(transform(
        filter(col("kept"), t => length(t) > 0),
        t => when(length(lower(t)) <= lit(16),
          graft.functions.UnigramExpressions
            .unigramEncodeIds(lower(t), uniCosts))
          .otherwise(array(lit(unkId))))))
      .withColumn("__ch",
        conv(substring(md5(concat_ws(" ", col("kept"))), 1, 9), 16, 10)
          .cast("long"))
      .localCheckpoint(false) // manifest + export both read this
    ReleaseRun(relRoot, relDir, nQuar, docs, gatePass, kb, kept, art,
      unkId)
  }

  /** The release manifest a shipped artifact carries: per shard the
    * record/token/piece counts, the decoded-id sum, the content
    * checksum, and the key range — everything a consumer can
    * re-verify without the corpus (counts, id sums, keys, CRCs) plus
    * what it audits WITH the corpus (token totals, content sums).
    * `id_sum` (r17): the sum of every exported vocab id — with it, a
    * CRC-valid rewrite that preserves record and piece counts but
    * swaps content still fails the consumer's artifact-only check. */
  private def releaseManifest(art: DataFrame): DataFrame =
    art.groupBy("shard")
      .agg(count(lit(1)).as("n_records"),
        sum(col("tok")).as("n_tokens"),
        coalesce(sum(size(col("input_ids"))).cast("long"), lit(0L))
          .as("n_pieces"),
        coalesce(sum(aggregate(col("input_ids"), lit(0L),
          (a, x) => a + x)), lit(0L)).as("id_sum"),
        sum(col("__ch")).as("content_sum"),
        min(col("key")).as("key_min"), max(col("key")).as("key_max"))

  /** TFRecord export + on-disk manifest + `_latest` publish, EXACTLY
    * ONCE per run dir (the computeIfAbsent latch both serializes
    * concurrent exporters and blocks them until the artifact is
    * complete): a published dir is never written again, so a reader
    * that resolved `_latest` can never glob a mid-rewrite shard set.
    * The manifest lands BEFORE the pointer swap — a resolvable
    * artifact always carries its own verification data. Shared by the
    * t131 producer and the t139 consumer, so whichever runs first in
    * a fresh JVM publishes and the other reads the same artifact. */
  private def exportAndPublishOnce(s: SparkSession,
                                   run: ReleaseRun): Unit = {
    releaseExported.computeIfAbsent(run.relDir, _ => {
      graft.sink.TfRecord.write(
        run.art.select("shard", "pos", "doc_id", "input_ids"),
        s"${run.relDir}/tfrec", "shard", "pos",
        Seq("doc_id", "input_ids"), Nil)
      releaseManifest(run.art).coalesce(1).write.mode("overwrite")
        .parquet(s"${run.relDir}/manifest")
      graft.sink.Release.publishLatest(
        s.sparkContext.hadoopConfiguration, run.relRoot, run.relDir)
      java.lang.Boolean.TRUE
    })
  }

  /** The release-chain twin (S1–S5 through the shuffled `po` rows and
    * the per-doc tokenizer sums) — shared VERBATIM by the t131 and
    * t135 oracles so the export gate and the data card describe the
    * same artifact by construction. Expects `unigramTrainSql` +
    * `unigramViterbiSql(4)` CTEs in scope (vocab ids = sorted-piece
    * rank over ut3, the Spark side's table order; UNK = vocab size
    * for words past the 16-char trainer cap). Each composed stage
    * reuses its verified twin verbatim, scope-isolated in a nested
    * WITH so the snippets' CTE names (several define `t`/`f`/`h`)
    * cannot collide. Stage landing names: gp (gate pass) → kb
    * (keep-best) → red (redacted kept-token lists, non-eval docs) →
    * keep (budget survivors) → po (t67 shuffle pos) → tsum (per-doc
    * vocab-id sums). The JSONL ingest has no DuckDB half — its
    * identity is t118's gate; here `documents` IS the ingested
    * corpus. */
  private lazy val releaseChainSql: String =
    raw"""gp AS (
         SELECT doc_id FROM (
           WITH $gateFlagsSql,
           mdn AS (SELECT median(score_ppm) AS med FROM gates)
           SELECT doc_id FROM gates CROSS JOIN mdn
           WHERE g AND r AND score_ppm > med) gg),
       lab AS (
         SELECT doc_id, cluster_id FROM (
           WITH RECURSIVE $minhashBandsSql,
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
             SELECT s.src, r.r FROM sym s JOIN reach r ON s.dst = r.id)
           SELECT d.doc_id,
             CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin
                  THEN d.doc_id ELSE m.rmin END AS cluster_id
           FROM documents d
           LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
             ON m.id = d.doc_id) ll),
       qs AS (SELECT doc_id, $qScoreSql AS q FROM documents),
       kb AS (
         SELECT doc_id, q FROM (
           SELECT l.doc_id, qs.q,
             row_number() OVER (PARTITION BY l.cluster_id
               ORDER BY qs.q DESC, l.doc_id) AS rk
           FROM lab l JOIN gp USING (doc_id) JOIN qs USING (doc_id)) x
         WHERE rk = 1),
       red AS (
         SELECT doc_id, kept FROM (
           WITH t AS (
             SELECT doc_id, string_split_regex(text, '\s+') AS toks
             FROM documents),
           f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
           g AS (
             SELECT doc_id,
               unnest([{'p': i,
                        'g': substr(md5(array_to_string(toks[i:i+7],
                                    ' ')), 1, 16)}
                       FOR i IN generate_series(1, len(toks)-7)],
                      recursive := true)
             FROM f),
           d AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
           h AS (SELECT doc_id, p AS pos, p + 7 AS e
                 FROM g JOIN d USING (g) WHERE doc_id % 7 <> 0),
           i AS (SELECT doc_id, pos, e,
                   CASE WHEN pos > coalesce(max(e) OVER (
                          PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING),
                        -1) + 1
                        THEN 1 ELSE 0 END AS nw
                 FROM h),
           j AS (SELECT doc_id, pos, e,
                   sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS isl
                 FROM i),
           sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e
                  FROM j GROUP BY doc_id, isl),
           r AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans
                 FROM sp GROUP BY doc_id),
           base AS (SELECT t.doc_id, t.toks,
                      coalesce(r.spans, []) AS spans
                    FROM t LEFT JOIN r USING (doc_id)
                    WHERE t.doc_id % 7 <> 0)
           SELECT doc_id,
             list_filter(toks, (x, ix) ->
               len(list_filter(spans,
                 s -> ix >= s.s AND ix <= s.e)) = 0) AS kept
           FROM base) rr),
       surv AS (
         SELECT kb.doc_id, red.kept,
           CAST(len(red.kept) AS BIGINT) AS tok, kb.q
         FROM kb JOIN red USING (doc_id)),
       tot AS (SELECT sum(tok) AS total FROM surv),
       st AS (
         SELECT *, coalesce(sum(tok) OVER (ORDER BY q DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start
         FROM surv),
       keep AS (
         SELECT doc_id, kept, tok FROM st CROSS JOIN tot
         WHERE start * 4 < total),
       sh AS (
         SELECT doc_id, kept, tok,
           md5('shuf42:' || doc_id) AS key,
           substr(md5('shuf42:' || doc_id), 1, 1) AS shard
         FROM keep),
       po AS (
         SELECT *, row_number() OVER (PARTITION BY shard
           ORDER BY key, doc_id) AS pos
         FROM sh),
       uid AS (
         SELECT p, CAST(row_number() OVER (ORDER BY p) - 1 AS BIGINT)
           AS pid
         FROM ut3),
       uvn AS (SELECT CAST(count(*) AS BIGINT) AS unk FROM ut3),
       uidm AS (SELECT map(list(p ORDER BY p), list(pid ORDER BY p))
                  AS im
                FROM uid),
       wiv AS (
         SELECT w, CAST(len(ps) AS BIGINT) AS np,
           CAST(coalesce(list_sum(list_transform(ps,
             pp -> im[pp][1])), 0) AS BIGINT) AS psum
         FROM ub4_16 CROSS JOIN uidm),
       tokx AS (
         SELECT doc_id, lower(u.tk) AS w
         FROM po, unnest(list_filter(kept, x -> len(x) > 0)) AS u(tk)),
       tsum AS (
         SELECT t.doc_id,
           CAST(sum(CASE WHEN len(t.w) <= 16 THEN v.psum
                    ELSE uvn.unk END) AS BIGINT) AS id_sum_doc,
           CAST(sum(CASE WHEN len(t.w) <= 16 THEN v.np
                    ELSE 1 END) AS BIGINT) AS np_doc
         FROM tokx t LEFT JOIN wiv v ON t.w = v.w CROSS JOIN uvn
         GROUP BY 1)"""

  val all: Seq[Query] = Seq(
    // Per-source dataset card (the release artifact a corpus ships
    // with — Datasheets for Datasets, Gebru et al. 2021): one row per
    // source carrying the signals every curation decision reads —
    // volume (docs, BPE tokens, chars), exact-dup rate on the t54
    // canonical hash, dominant language, mean quality. Every mean
    // ships as an integer ratio (sum div count on non-negative
    // BIGINTs — exact in both engines, no double summation); the
    // dominant language is a (source, lang) agg + top-1 window joined
    // back as a broadcast (source cardinality). ONE corpus scan feeds
    // both aggs; countDistinct plans the standard two-phase exact
    // distinct — at 100 TB the same card computes with the hash
    // distinct partially aggregated map-side.
    Query("t105_data_card", (s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars"),
          graft.functions.SketchExpressions.textStats(col("text"))
            .as("__st"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("tok"),
          md5(graft.functions.SketchExpressions
            .canonicalizeText(col("text"))).as("h"))
        .withColumn("qm",
          round(TextOps.qualityScoreFrom(col("__st")) * lit(1000000.0))
            .cast("long"))
      val agg = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("tok").as("n_tok"),
        countDistinct(col("h")).as("n_uniq"),
        sum("qm").as("sum_qm"),
        sum("n_chars").as("sum_chars"))
      // asc_nulls_last: DuckDB's ASC default is NULLS LAST where
      // Spark's is NULLS FIRST — a NULL lang tied with a named one
      // must pick the same top_lang in both engines
      val langTop = d.groupBy("source", "lang")
        .agg(count(lit(1)).as("lc"))
        .withColumn("rn", row_number().over(Window.partitionBy("source")
          .orderBy(col("lc").desc, col("lang").asc_nulls_last)))
        .where(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      agg.join(broadcast(langTop), Seq("source"))
        .select(col("source"), col("n_docs"), col("n_tok"),
          expr("(n_docs - n_uniq) * 1000000 div n_docs").as("dup_ppm"),
          col("top_lang"),
          expr("sum_qm div n_docs").as("mean_q_micro"),
          expr("(sum_chars * 100) div n_docs").as("mean_chars_x100"))
    },
      // Data-card twin: the shared t54 hash / t7 score / d6 token-count
      // expressions (one definition each, so the card cannot drift from
      // the artifacts it summarizes); integer sum//count means; window
      // top-1 after GROUP BY for the dominant language.
      s"""WITH d AS (
           SELECT source, lang, n_chars,
             CAST(round($qScoreSql * 1000000.0) AS BIGINT) AS qm,
             CAST($bpeCountSql AS BIGINT) AS tok,
             $canonHashSql AS h
           FROM documents),
         a AS (SELECT source, count(*) AS n_docs, sum(tok) AS n_tok,
             count(DISTINCT h) AS n_uniq, sum(qm) AS sum_qm,
             sum(n_chars) AS sum_chars
           FROM d GROUP BY source),
         l AS (SELECT source, lang,
             row_number() OVER (PARTITION BY source
               ORDER BY count(*) DESC, lang) AS rn
           FROM d GROUP BY source, lang)
         SELECT a.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST((n_docs - n_uniq) * 1000000 // n_docs AS BIGINT)
             AS dup_ppm,
           l.lang AS top_lang,
           CAST(sum_qm // n_docs AS BIGINT) AS mean_q_micro,
           CAST((sum_chars * 100) // n_docs AS BIGINT)
             AS mean_chars_x100
         FROM a JOIN l ON a.source = l.source AND l.rn = 1"""),

    // Shard MANIFEST for a reproducible data release (the
    // Dolma/RedPajama release-artifact shape): per t67 training
    // shard, the numbers a training run pins and a re-materialization
    // must reproduce byte-for-byte — doc count, token total, an
    // order-insensitive 36-bit-per-doc content checksum, and the
    // shard's shuffle-key endpoints (the key range pins the shard's
    // ORDER, since position is a pure function of the sorted keys).
    // Shape: the key/shard derivation is t67's own map-side kernel
    // (shared `trainShuffle` def — manifest and shuffle cannot
    // drift); ONE shard-keyed partial-agged shuffle produces the
    // whole manifest; output is 256 rows.
    Query("t121_shard_manifest", (s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("shuf42:"), col("doc_id").cast("string")))
            .as("key"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tok"),
          conv(substring(md5(col("text")), 1, 9), 16, 10).cast("long")
            .as("__ch"))
        .withColumn("shard", substring(col("key"), 1, 2))
      d.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          sum("__ch").as("content_sum"),
          min("key").as("key_min"),
          max("key").as("key_max"))
    },
      """WITH d AS (
           SELECT doc_id, md5('shuf42:' || doc_id) AS key,
             CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
               AS n_tok,
             CAST(('0x' || substr(md5(text), 1, 9)) AS UBIGINT) AS ch
           FROM documents)
         SELECT substr(key, 1, 2) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(ch) AS BIGINT) AS content_sum,
           min(key) AS key_min,
           max(key) AS key_max
         FROM d GROUP BY 1"""),

    // Standing-corpus CDC merge (`Cdc.applyChanges`): re-crawl
    // revisions, takedown deletes, and new-page inserts applied in one
    // last-op-wins pass — the maintenance step t49's insert-only
    // ingest leaves open. The synthetic feed exercises every path:
    // updates (doc_id%10==3, revised text), deletes (%10==5), inserts
    // (%10==7 under shifted ids), AND a second-op delete on %100==3
    // keys so last-op-wins is observable (update at seq 1, delete at
    // seq 2 — the delete must win). Output hashes the text so the
    // compare stays narrow.
    Query("t79_cdc_merge", (s, dir) => {
      val base = T(s, dir, "documents")
      Cdc.applyChanges(base, cdcDemoDelta(base), "doc_id", "__op",
          "__seq")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"))
    },
      """WITH delta AS (
           SELECT doc_id, text || ' [rev2]' AS text, lang, source,
             n_chars, 'update' AS op, 1 AS seq
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           SELECT doc_id, text, lang, source, n_chars, 'delete', 1
           FROM documents WHERE doc_id % 10 = 5
           UNION ALL
           SELECT doc_id + 1000000, text, lang, source, n_chars,
             'insert', 1
           FROM documents WHERE doc_id % 10 = 7
           UNION ALL
           SELECT doc_id, text, lang, source, n_chars, 'delete', 2
           FROM documents WHERE doc_id % 100 = 3),
         last AS (
           SELECT * FROM delta
           QUALIFY row_number() OVER (PARTITION BY doc_id
             ORDER BY seq DESC, op DESC) = 1),
         merged AS (
           SELECT doc_id, text, lang, source FROM documents
           WHERE doc_id NOT IN (SELECT doc_id FROM last)
           UNION ALL
           SELECT doc_id, text, lang, source FROM last
           WHERE op <> 'delete')
         SELECT doc_id, md5(text) AS text_md5, lang, source
         FROM merged"""),

    // CDC TIME TRAVEL — "read the corpus as of change-log offset S":
    // the audit every snapshot-versioned data release needs (which
    // docs did train run X actually see?). One row per as-of point:
    // row count, distinct languages, and an order-insensitive
    // 36-bit-per-doc content checksum (sum of md5-prefix integers —
    // exact in a long at any realistic corpus row count), so two
    // reconstructions of the same offset are comparable without
    // diffing rows. Shape: time travel at N audit points = N
    // applyChanges merges (each the proven delta-window + anti-join +
    // union shape) over the seq-filtered log — N is audit-sized
    // (log offsets you care about), never corpus-sized; production
    // serves FREQUENT as-of reads from materialized snapshots (t38's
    // diff artifacts) and uses this op to verify them. Shares t79's
    // deterministic delta feed so the two cannot drift.
    Query("t120_time_travel", (s, dir) => {
      val base = T(s, dir, "documents")
      val delta = cdcDemoDelta(base)
      Seq(0L, 1L, 2L).map { asof =>
        Cdc.applyChanges(base,
            delta.where(col("__seq") <= asof), "doc_id", "__op",
            "__seq")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            // 9 hex chars = 36 bits/doc: the long sum stays exact
            // past 10^8 rows per state (100x scale points included)
            sum(conv(substring(md5(col("text")), 1, 9), 16, 10)
              .cast("long")).as("content_sum"))
          .select(lit(asof).as("asof_seq"), col("n_docs"),
            col("n_langs"), col("content_sum"))
      }.reduce(_ unionByName _)
    },
      // t120: one state per as-of offset — last op with seq <= asof per
      // key (same feed and window as t79's oracle), then the audit
      // aggregates; asof 0 sees the untouched base
      // ("asof" is a DuckDB reserved word — ASOF JOIN — hence "av")
      """WITH seqs AS (SELECT unnest([0, 1, 2]) AS av),
         delta AS (
           SELECT doc_id, text || ' [rev2]' AS text, lang,
             'update' AS op, 1 AS seq
           FROM documents WHERE doc_id % 10 = 3
           UNION ALL
           SELECT doc_id, text, lang, 'delete', 1
           FROM documents WHERE doc_id % 10 = 5
           UNION ALL
           SELECT doc_id + 1000000, text, lang, 'insert', 1
           FROM documents WHERE doc_id % 10 = 7
           UNION ALL
           SELECT doc_id, text, lang, 'delete', 2
           FROM documents WHERE doc_id % 100 = 3),
         last AS (
           SELECT sq.av, dl.*
           FROM seqs sq JOIN delta dl ON dl.seq <= sq.av
           QUALIFY row_number() OVER (PARTITION BY sq.av, dl.doc_id
             ORDER BY dl.seq DESC, dl.op DESC) = 1),
         states AS (
           SELECT sq.av, b.doc_id, b.text, b.lang
           FROM seqs sq CROSS JOIN documents b
           WHERE NOT EXISTS (SELECT 1 FROM last lo
             WHERE lo.av = sq.av AND lo.doc_id = b.doc_id)
           UNION ALL
           SELECT av, doc_id, text, lang FROM last
           WHERE op <> 'delete')
         SELECT CAST(av AS BIGINT) AS asof_seq,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(CAST(('0x' || substr(md5(text), 1, 9))
             AS UBIGINT)) AS BIGINT) AS content_sum
         FROM states GROUP BY av"""),

    // Snapshot diff (CDC between two corpus versions): full outer join
    // on doc_id comparing content hashes → added/removed/changed rows
    // only. The join ships md5 hashes, never document text; at scale
    // both snapshots sort-merge on the id they are already bucketed by,
    // and the "unchanged" majority is filtered before any further
    // processing — the incremental-pipeline primitive that avoids
    // re-running dedup/quality over 100 TB when 0.1% changed.
    // Re-crawl/churn detection over the snapshot diff: an ADDED
    // document that shares an LSH band bucket with a REMOVED one is
    // (with high probability) the same content resurfacing under a new
    // id — near-dup, not just exact — the signal that separates corpus
    // CHURN from genuinely new data before paying to re-ingest.
    // Snapshot membership follows t38's convention (old ≡ id%4≠3,
    // new ≡ id%4≠0 ⇒ removed ≡ id%4=0, added ≡ id%4=3); both sides of
    // the band-key semi-join are delta-sized — the t49 shape, never a
    // corpus re-cluster.
    Query("t58_neardup_churn", (s, dir) => {
      val keys = Dedup.lshBandKeys(
        Dedup.gatedShingles(T(s, dir, "documents"), 3, "sh"),
        "doc_id", "sh", k = 8, bands = 4, preGated = true)
      val removed = keys.where(col("doc_id") % 4 === 0)
        .select(col("band"), col("bh")).distinct()
      val hits = keys.where(col("doc_id") % 4 === 3)
        .join(removed, Seq("band", "bh"), "left_semi")
        .select("doc_id").distinct()
      T(s, dir, "documents").where(col("doc_id") % 4 === 3)
        .select("doc_id")
        .join(hits.withColumn("__hit", lit(1L)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__hit"), lit(0L)).as("recrawl"))
    },
      raw"""WITH $minhashBandsSql,
         hits AS (
           SELECT DISTINCT ad.doc_id
           FROM bands ad JOIN bands rm
             ON ad.b = rm.b AND ad.bh = rm.bh
           WHERE ad.doc_id % 4 = 3 AND rm.doc_id % 4 = 0)
         SELECT d.doc_id,
           CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END
             AS BIGINT) AS recrawl
         FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         WHERE d.doc_id % 4 = 3"""),

    // Corpus-drift monitor: per-source KL divergence KL(new ‖ old)
    // between the Laplace-smoothed unigram distributions of two crawl
    // snapshots (t38's doc_id%4 convention) — the alarm that a feed
    // changed character between crawls (template swap, spam flood,
    // language shift) before it pollutes the mix. Two (source, term)
    // aggs with map-side partials, one full-outer join on the union
    // vocab, per-source scalar joins — all O(vocab), never O(corpus)
    // beyond the token scan.
    Query("t61_snapshot_kl", (s, dir) => {
      val f = T(s, dir, "documents").select(col("source"), col("doc_id"),
        explode(TextOps.tokensLower(col("text"))).as("term"))
        .where(length(col("term")) > 0)
      val old = f.where(col("doc_id") % 4 =!= 3)
        .groupBy("source", "term").agg(count(lit(1)).as("__no"))
      val nw = f.where(col("doc_id") % 4 =!= 0)
        .groupBy("source", "term").agg(count(lit(1)).as("__nn"))
      val vocab = old.join(nw, Seq("source", "term"), "full_outer")
      val scal = vocab.groupBy("source").agg(
        sum(coalesce(col("__no"), lit(0L))).cast("double").as("__to"),
        sum(coalesce(col("__nn"), lit(0L))).cast("double").as("__tn"),
        count(lit(1)).cast("double").as("__v"))
      val pn = (coalesce(col("__nn"), lit(0L)).cast("double") + 1.0) /
        (col("__tn") + col("__v"))
      val po = (coalesce(col("__no"), lit(0L)).cast("double") + 1.0) /
        (col("__to") + col("__v"))
      vocab.join(scal, Seq("source"))
        .groupBy("source")
        .agg(round(sum(pn * log(pn / po)), 6).as("kl_new_old"))
    },
      """WITH f AS (
           SELECT source, doc_id,
             unnest(string_split_regex(lower(text), '\s+')) AS term
           FROM documents),
         g AS (SELECT source, doc_id, term FROM f WHERE len(term) > 0),
         old AS (SELECT source, term, count(*) AS no FROM g
                 WHERE doc_id % 4 <> 3 GROUP BY source, term),
         nw AS (SELECT source, term, count(*) AS nn FROM g
                WHERE doc_id % 4 <> 0 GROUP BY source, term),
         vocab AS (
           SELECT coalesce(old.source, nw.source) AS source,
             coalesce(old.term, nw.term) AS term, no, nn
           FROM old FULL OUTER JOIN nw
             ON old.source = nw.source AND old.term = nw.term),
         scal AS (
           SELECT source,
             CAST(sum(coalesce(no, 0)) AS DOUBLE) AS t_o,
             CAST(sum(coalesce(nn, 0)) AS DOUBLE) AS t_n,
             CAST(count(*) AS DOUBLE) AS v
           FROM vocab GROUP BY source)
         SELECT source,
           round(sum(
             ((CAST(coalesce(nn, 0) AS DOUBLE) + 1.0) / (t_n + v)) *
             ln(((CAST(coalesce(nn, 0) AS DOUBLE) + 1.0) / (t_n + v)) /
                ((CAST(coalesce(no, 0) AS DOUBLE) + 1.0) / (t_o + v)))),
             6) AS kl_new_old
         FROM vocab JOIN scal USING (source)
         GROUP BY source"""),

    Query("t38_snapshot_diff", (s, dir) => {
      val d = T(s, dir, "documents")
      val old = d.where(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), md5(col("text")).as("__ho"))
      val nw = d.where(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("__hn"))
      old.join(nw, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("__ho").isNull, "added")
            .when(col("__hn").isNull, "removed")
            .when(col("__ho") =!= col("__hn"), "changed")
            .otherwise("unchanged").as("change"))
        .where(col("change") =!= "unchanged")
    },
      """WITH old AS (
           SELECT doc_id, md5(text) AS ho
           FROM documents WHERE doc_id % 4 <> 3),
         nw AS (
           SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                      ELSE text END) AS hn
           FROM documents WHERE doc_id % 4 <> 0)
         SELECT COALESCE(old.doc_id, nw.doc_id) AS doc_id,
           CASE WHEN ho IS NULL THEN 'added'
                WHEN hn IS NULL THEN 'removed'
                WHEN ho <> hn THEN 'changed'
                ELSE 'unchanged' END AS change
         FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
         WHERE (CASE WHEN ho IS NULL THEN 'added'
                WHEN hn IS NULL THEN 'removed'
                WHEN ho <> hn THEN 'changed'
                ELSE 'unchanged' END) <> 'unchanged'"""),

    // TFRecord training-shard export, verified END TO END: tokenized
    // docs write as tf.train.Examples (hand-rolled proto + CRC32C
    // framing — sink/TfRecord.scala), the shards read BACK through
    // the TFRecord scan (both CRCs checked per record), decode, and
    // re-aggregate; the oracle recomputes the same per-shard totals
    // straight from parquet. A single flipped bit anywhere in the
    // binary path (varint packing, LE framing, masked CRC, map-entry
    // encoding) breaks the hash gate. input_ids are 15-bit md5 vocab
    // hashes so DuckDB can rebuild them exactly.
    //
    // Scale shape: 16 md5 shards, one sequential file write per shard
    // task (t67's order-sensitive shard model; width is the caller's
    // sizing knob), read-back one task per shard file. The manifest
    // collect is shard-count-bounded (≤16 rows). crc_fail is part of
    // the gated output — the oracle pins it to 0.
    Query("t124_tfrecord_export", (s, dir) => {
      import s.implicits._
      val out = s"/tmp/graft_tfrec/${Stage.key(dir)}"
      val docs = T(s, dir, "documents").select(
        col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
        expr("""transform(
            filter(split(lower(text), '\\s+'), t -> length(t) > 0),
            t -> CAST(conv(substring(md5(t), 1, 9), 16, 10) AS BIGINT)
              % 32768)""").as("input_ids"),
        col("source"))
      graft.sink.TfRecord.write(docs, out, "shard", "doc_id",
        Seq("doc_id", "input_ids"), Seq("source"))
        .collect() // force the write; one manifest row per shard (≤16)
      graft.sink.TfRecord.read(s, out)
        .as[(String, Long, Array[Byte], Boolean)]
        .map { case (shard, _, data, crcOk) =>
          val f = graft.sink.TfRecord.decodeExample(data)
          def i64(n: String): Seq[Long] = f.get(n) match {
            case Some(graft.sink.TfRecord.Int64Val(vs)) => vs
            case _ => Nil
          }
          (shard, i64("doc_id").headOption.getOrElse(-1L),
            i64("input_ids").sum, i64("input_ids").length.toLong,
            if (crcOk) 0L else 1L)
        }
        .toDF("shard", "doc_id", "id_sum", "n_tokens", "crc_fail")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_records"),
          sum("doc_id").as("docid_sum"),
          sum("id_sum").as("id_sum"),
          sum("n_tokens").as("token_total"),
          sum("crc_fail").as("crc_fail"))
    },
      // The per-shard totals recomputed straight from parquet — the
      // Spark side must round-trip them through its own TFRecord binary
      // write + CRC-checked read-back to match.
      raw"""WITH t AS (
           SELECT doc_id,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
             list_transform(
               list_filter(string_split_regex(lower(text), '\s+'),
                 t -> len(t) > 0),
               t -> CAST(('0x' || substr(md5(t), 1, 9)) AS UBIGINT)
                 ::BIGINT % 32768) AS ids
           FROM documents)
         SELECT shard,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(doc_id) AS BIGINT) AS docid_sum,
           CAST(sum(coalesce(list_sum(ids), 0)) AS BIGINT) AS id_sum,
           CAST(sum(len(ids)) AS BIGINT) AS token_total,
           CAST(0 AS BIGINT) AS crc_fail
         FROM t GROUP BY 1"""),

    // ——— END-TO-END RELEASE PIPELINE (r13 verdict item #1) ————————
    // Every stage below is individually oracle-verified; THIS query
    // composes them into the one artifact run a data release actually
    // ships, and hash-gates the FINAL decoded shard contents plus the
    // manifest against a DuckDB twin of the whole chain — the
    // cross-stage drift (gate order, dedup scope, pack boundaries,
    // redaction-vs-tokenize order) per-op oracles can't see.
    //
    //   S0 JSONL ingest (S10)   — corpus enters as the interchange
    //      artifact; quarantine accounted (gated 0)
    //   S1 quality gates        — gateFlags kernel (t46 ∧ t81 ∧ rep),
    //      keyed to the ingested rows
    //   S2 near-dup keep-best   — staged LSH/CC labels + q-score
    //      (t56), among gate survivors; a cluster whose best doc is
    //      an eval doc drops entirely (decontam-correct)
    //   S3 span decontam+redact — t45 spans vs the full eval slice,
    //      t47 rebuild; eval docs themselves leave the corpus
    //   S4 token budget         — t95's quality-ordered exclusive
    //      prefix-sum cut (top quarter of surviving tokens)
    //   S5 train shuffle        — t67's deterministic order, width 1,
    //      plus REAL tokenizer ids: the trained unigram-LM vocab
    //      (t132) encodes every kept token, so the exported
    //      `input_ids` are actual vocab ids and the decoded-shard
    //      gate covers the tokenizer → export seam (r14 verdict #1)
    //   S6 shard manifest       — t121's numbers over the REDACTED
    //      release text
    //   S7 TFRecord export      — t124's write → read-back → decode;
    //      order_sum gates that the BYTES ON DISK sit in the t67
    //      order (rec_index is read from the files, never recomputed);
    //      the run dir then publishes via the atomic _latest pointer
    //
    // Scale shape: each stage keeps its verified shape (broadcast
    // eval grams, hash-partitioned cluster window, two-level prefix
    // sum, per-shard sequential writes); the two reused frames
    // (ingested docs, packed artifact) are localCheckpointed so no
    // stage re-executes another's work; outputs are shard-count rows.
    // Chain body: `releaseChain` (shared with t135's data card).
    Query("t131_release_pipeline", (s, dir) => {
      import s.implicits._
      val run = releaseChain(s, dir)
      val art = run.art
      val relDir = run.relDir
      // S6 — t121 manifest over the redacted release corpus
      val manifest = releaseManifest(art)
        .select("shard", "n_tokens", "content_sum", "key_min",
          "key_max")
      // S7 — TFRecord export + manifest + publish (shared with the
      // t139 consumer; see exportAndPublishOnce)
      exportAndPublishOnce(s, run)
      val decoded = graft.sink.TfRecord.read(s, s"$relDir/tfrec")
        .as[(String, Long, Array[Byte], Boolean)]
        .map { case (shard, idx, data, crcOk) =>
          val f = graft.sink.TfRecord.decodeExample(data)
          def i64(n: String): Seq[Long] = f.get(n) match {
            case Some(graft.sink.TfRecord.Int64Val(vs)) => vs
            case _ => Nil
          }
          val id = i64("doc_id").headOption.getOrElse(-1L)
          // order term from the FILE's record index — gates that the
          // bytes landed in t67 order, not just that they landed
          (shard, id, i64("input_ids").sum,
            i64("input_ids").length.toLong,
            (idx + 1L) * (id % 997L), if (crcOk) 0L else 1L)
        }
        .toDF("shard", "doc_id", "id_sum", "n_tok", "ord", "crc_fail")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_records"),
          sum("doc_id").as("docid_sum"), sum("id_sum").as("id_sum"),
          sum("n_tok").as("token_total"), sum("ord").as("order_sum"),
          sum("crc_fail").as("crc_fail"))
      decoded.join(manifest, Seq("shard"))
        .withColumn("quarantined", lit(run.nQuar))
        .select(col("shard"), col("n_records"), col("docid_sum"),
          col("id_sum"), col("token_total"), col("order_sum"),
          col("crc_fail"), col("quarantined"), col("n_tokens"),
          col("content_sum"), col("key_min"), col("key_max"))
    },
      // The whole release chain, one statement: `releaseChainSql`
      // (stage twins composed verbatim, scope-isolated) + the trained
      // unigram tokenizer (t132's EM unrolled) — the exported
      // `input_ids` are REAL vocab ids, so this gate covers the
      // tokenizer → export seam end to end. `ids` adds the per-doc
      // content checksum; per-doc id/piece sums come from the chain's
      // `tsum` (multiset equality — sums and counts — is exactly what
      // the decoded-shard aggregates compare).
      raw"""WITH $unigramTrainSql,
         ${unigramViterbiSql(4)},
         $releaseChainSql,
         ids AS (
           SELECT po.*,
             coalesce(ts.id_sum_doc, 0) AS id_sum_doc,
             coalesce(ts.np_doc, 0) AS np_doc,
             -- coalesce: a FULLY-REDACTED doc has kept = [] and
             -- DuckDB's array_to_string([]) is NULL where Spark's
             -- concat_ws is '' (t47's twin does the same; first seen
             -- at 10x, where full-coverage spans survive the budget)
             CAST(('0x' || substr(md5(coalesce(
               array_to_string(kept, ' '), '')), 1, 9))
               AS UBIGINT)::BIGINT AS ch
           FROM po LEFT JOIN tsum ts USING (doc_id))
         SELECT shard,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(doc_id) AS BIGINT) AS docid_sum,
           CAST(sum(id_sum_doc) AS BIGINT) AS id_sum,
           CAST(sum(np_doc) AS BIGINT) AS token_total,
           CAST(sum(pos * (doc_id % 997)) AS BIGINT) AS order_sum,
           CAST(0 AS BIGINT) AS crc_fail,
           CAST(0 AS BIGINT) AS quarantined,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(ch) AS BIGINT) AS content_sum,
           min(key) AS key_min,
           max(key) AS key_max
         FROM ids GROUP BY 1"""),

    // DATA CARD (r14 verdict item #8): the per-release report a
    // 100 TB corpus ships with — ONE row composing, off the SAME
    // release chain t131 exports, the funnel counts (ingested → gate
    // pass → keep-best → released), the released token/piece totals,
    // the trained-tokenizer fertility over the release, lexical
    // diversity (exact release TTR — the release is budget-cut, so
    // exact distinct is affordable where t126 needs its size-tiered
    // sketch), dedup collapse, and shard count. Every input is an
    // already-oracle-gated stage; the card's value is that the
    // numbers are measured over ONE coherent artifact run, not
    // stitched from per-query reruns that could drift.
    //
    // Scale shape: three aggregates over checkpointed release frames
    // (corpus-scan work happened once in the chain); the distinct-
    // token term aggregates the RELEASE (budget-cut) corpus only; the
    // piece counts ride the in-row tokenizer already computed for
    // input_ids. Output: 1 row.
    Query("t135_release_card", (s, dir) => {
      val run = releaseChain(s, dir)
      val funnel = run.docs.agg(count(lit(1)).as("docs_ingested"))
        .crossJoin(run.gatePass.agg(count(lit(1)).as("docs_gate_pass")))
        .crossJoin(run.kb.agg(count(lit(1)).as("docs_kept_best")))
      // coalesce(…, 0): an empty release (100× replica corpora are
      // ~100% eval-contaminated) must card as zeros, not NULLs —
      // matching the twin's coalesced sums
      val relStats = run.art.agg(
        count(lit(1)).as("docs_released"),
        coalesce(sum(col("tok")), lit(0L)).as("tokens_released"),
        coalesce(sum(size(col("input_ids"))).cast("long"), lit(0L))
          .as("pieces_released"),
        coalesce(sum(size(filter(col("kept"), t => length(t) > 0)))
          .cast("long"), lit(0L)).as("words_released"),
        countDistinct(col("shard")).as("n_shards"))
      val ttr = run.art
        .select(explode(col("kept")).as("t"))
        .where(length(col("t")) > 0)
        .agg(countDistinct(lower(col("t"))).as("distinct_tokens"))
      funnel.crossJoin(relStats).crossJoin(ttr)
        .withColumn("dups_collapsed",
          col("docs_gate_pass") - col("docs_kept_best"))
        .withColumn("fertility_ppm",
          expr("pieces_released * 1000000 DIV greatest(words_released, 1)"))
        .withColumn("ttr_ppm",
          expr("distinct_tokens * 1000000 DIV greatest(words_released, 1)"))
        .withColumn("vocab_size", lit(run.vocabSize))
        .withColumn("quarantined", lit(run.nQuar))
    },
      // Data card: scalar aggregates over the SAME chain CTEs.
      raw"""WITH $unigramTrainSql,
         ${unigramViterbiSql(4)},
         $releaseChainSql,
         rel AS (
           SELECT CAST(count(*) AS BIGINT) AS docs_released,
             CAST(coalesce(sum(tok), 0) AS BIGINT) AS tokens_released,
             CAST(count(DISTINCT shard) AS BIGINT) AS n_shards
           FROM po),
         pcs AS (
           SELECT CAST(coalesce(sum(np_doc), 0) AS BIGINT)
             AS pieces_released
           FROM tsum JOIN po USING (doc_id)),
         wrd AS (
           SELECT CAST(count(*) AS BIGINT) AS words_released,
             CAST(count(DISTINCT w) AS BIGINT) AS distinct_tokens
           FROM tokx)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM documents)
             AS docs_ingested,
           (SELECT CAST(count(*) AS BIGINT) FROM gp) AS docs_gate_pass,
           (SELECT CAST(count(*) AS BIGINT) FROM kb) AS docs_kept_best,
           rel.docs_released, rel.tokens_released,
           pcs.pieces_released, wrd.words_released, rel.n_shards,
           wrd.distinct_tokens,
           (SELECT CAST(count(*) AS BIGINT) FROM gp)
             - (SELECT CAST(count(*) AS BIGINT) FROM kb)
             AS dups_collapsed,
           pcs.pieces_released * 1000000
             // greatest(wrd.words_released, 1) AS fertility_ppm,
           wrd.distinct_tokens * 1000000
             // greatest(wrd.words_released, 1) AS ttr_ppm,
           (SELECT CAST(count(*) AS BIGINT) FROM ut3) AS vocab_size,
           CAST(0 AS BIGINT) AS quarantined
         FROM rel CROSS JOIN pcs CROSS JOIN wrd"""),

    // Release CONSUMER (the reader half of the publication protocol —
    // r15 verdict item #4): everything after the publish reads ONLY
    // through the public artifact surface — resolve `_latest`, read
    // the published dir's manifest + TFRecord shards — never the
    // producer's in-memory frames. Per shard it re-verifies record
    // CRCs (TfRecord.read checks CRC32C per record), recounts records
    // and decoded pieces against the shipped manifest, and emits the
    // decoded doc-id/vocab-id sums the oracle audits against the
    // corpus. A truncated shard recounts short (records_match false),
    // a flipped byte fails CRC (crc_fail > 0), a missing shard
    // surfaces through the full outer join with null counts — all
    // hash-loud (ReleasePipelineSpec injects each fault).
    Query("t139_release_consume", (s, dir) => {
      import s.implicits._
      val run = releaseChain(s, dir)
      exportAndPublishOnce(s, run)
      val resolved = graft.sink.Release.resolveLatest(
        s.sparkContext.hadoopConfiguration, run.relRoot)
        .getOrElse(throw new IllegalStateException(
          s"no published release under ${run.relRoot}"))
      val man = Stage.parquet(s, s"$resolved/manifest")
        .select(col("shard"), col("n_records").as("m_records"),
          col("n_pieces").as("m_pieces"), col("id_sum").as("m_id_sum"),
          col("key_min").as("m_key_min"), col("key_max").as("m_key_max"),
          col("n_tokens"), col("content_sum"))
      val decoded = graft.sink.TfRecord.read(s, s"$resolved/tfrec")
        .as[(String, Long, Array[Byte], Boolean)]
        .map { case (shard, _, data, crcOk) =>
          // a CRC-failed record's bytes are untrusted — count the
          // failure without decoding (a flipped byte must surface as
          // crc_fail, not as a proto parse exception killing the audit)
          if (!crcOk) (shard, 0L, 0L, 0L, 1L)
          else {
            val f = graft.sink.TfRecord.decodeExample(data)
            def i64(n: String): Seq[Long] = f.get(n) match {
              case Some(graft.sink.TfRecord.Int64Val(vs)) => vs
              case _ => Nil
            }
            (shard, i64("doc_id").headOption.getOrElse(-1L),
              i64("input_ids").sum, i64("input_ids").length.toLong, 0L)
          }
        }
        .toDF("shard", "doc_id", "id_sum", "np", "crc_fail")
        // the shard keys are derivable from the ARTIFACT alone
        // (key = md5('shuf42:'||doc_id), the producer's scheme) — a
        // CRC-failed record contributes no key (its doc_id is
        // untrusted; min/max skip nulls and the crc flag already
        // fails the shard loudly)
        .withColumn("key", when(col("crc_fail") === 0,
          md5(concat(lit("shuf42:"), col("doc_id").cast("string")))))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_records"),
          sum("doc_id").as("docid_sum"), sum("id_sum").as("id_sum"),
          sum("np").as("pieces_total"), sum("crc_fail").as("crc_fail"),
          min("key").as("g_key_min"), max("key").as("g_key_max"))
      // match EVERY manifest field (r16 verdict #3 closed the loop):
      // counts, piece totals, id sums, and the key range come back
      // out of the decoded artifact; token totals and content sums
      // cannot (the raw text never ships) — those two are emitted
      // from the manifest and the ORACLE recomputes them from the
      // corpus through the full chain, so a manifest that lies about
      // them hash-fails even though the artifact alone can't tell.
      decoded.join(man, Seq("shard"), "full")
        .select(col("shard"),
          coalesce(col("n_records"), lit(0L)).as("n_records"),
          coalesce(col("docid_sum"), lit(0L)).as("docid_sum"),
          coalesce(col("id_sum"), lit(0L)).as("id_sum"),
          coalesce(col("pieces_total"), lit(0L)).as("pieces_total"),
          coalesce(col("crc_fail"), lit(0L)).as("crc_fail"),
          // coalesce to FALSE: a shard missing from either side of
          // the full join yields a NULL comparison, and a null gate
          // flag reads as "unchecked" downstream (Row.getAs[Boolean]
          // silently maps it to false in tests while the emitted
          // column stays null) — a missing shard must FAIL loudly
          coalesce(col("n_records") === col("m_records"), lit(false))
            .as("records_match"),
          coalesce(col("pieces_total") === col("m_pieces"), lit(false))
            .as("pieces_match"),
          coalesce(col("id_sum") === col("m_id_sum"), lit(false))
            .as("ids_match"),
          coalesce(col("g_key_min") === col("m_key_min") &&
            col("g_key_max") === col("m_key_max"), lit(false))
            .as("keys_match"),
          col("n_tokens"), col("content_sum"))
    },
      // Consumer twin: the expected per-shard decode recomputed from
      // the corpus through the full chain; the match flags are literal
      // true / crc_fail literal 0 — Spark's values come from the REAL
      // artifact read, so any torn/truncated/flipped shard hash-fails.
      // n_tokens/content_sum are recomputed from the CORPUS here while
      // Spark emits the shipped manifest's values: a manifest lying
      // about either (the half the r16 consumer didn't check) now
      // hash-fails too.
      raw"""WITH $unigramTrainSql,
         ${unigramViterbiSql(4)},
         $releaseChainSql,
         ids AS (
           SELECT po.*,
             coalesce(ts.id_sum_doc, 0) AS id_sum_doc,
             coalesce(ts.np_doc, 0) AS np_doc,
             CAST(('0x' || substr(md5(coalesce(
               array_to_string(kept, ' '), '')), 1, 9))
               AS UBIGINT)::BIGINT AS ch
           FROM po LEFT JOIN tsum ts USING (doc_id))
         SELECT shard,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(doc_id) AS BIGINT) AS docid_sum,
           CAST(sum(id_sum_doc) AS BIGINT) AS id_sum,
           CAST(sum(np_doc) AS BIGINT) AS pieces_total,
           CAST(0 AS BIGINT) AS crc_fail,
           true AS records_match,
           true AS pieces_match,
           true AS ids_match,
           true AS keys_match,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(ch) AS BIGINT) AS content_sum
         FROM ids GROUP BY 1"""),
  )
}
