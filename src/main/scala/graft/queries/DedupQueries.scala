package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops._
import Shared._

/** Deduplication and decontamination queries: exact and near-duplicate
  * detection (MinHash/LSH, SimHash, fingerprints), cluster labels and
  * the reports built on them, and span- and n-gram-level overlap with
  * evaluation sets. */
object DedupQueries {

  val all: Seq[Query] = Seq(
    // Exact text dedup (training-data op): content hash → keep-min doc id.
    Query("d1_docs_exact_dedup", (s, dir) =>
      T(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies")),
      """SELECT md5(text) AS h, min(doc_id) AS doc_id,
         count(*) AS n_copies
         FROM documents GROUP BY 1"""),

    // MinHash signature: 8 salted-md5 min-hashes over word 3-gram
    // shingles. Map-side only — each doc reduces to a fixed-size sketch.
    // Shingles are projected as a column first: the signature references
    // them 8× and Spark inlines expression args per reference.
    Query("t1_minhash_sig", (s, dir) =>
      Dedup.gatedShingles(T(s, dir, "documents"), 3, "__sh")
        .select(col("doc_id"),
          array_join(graft.functions.SketchExpressions.minhashSig(col("__sh"), 8),
            "|").as("mh")),
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents
           WHERE len(string_split_regex(text, '\s+')) >= 3),
         sh AS (
           SELECT doc_id,
             [array_to_string(toks[i:i+2], ' ')
              FOR i IN generate_series(1, len(toks)-2)] AS s
           FROM t)
         SELECT doc_id,
           array_to_string(
             [list_min([md5(k::VARCHAR || '|' || x) FOR x IN s])
              FOR k IN generate_series(1, 8)], '|') AS mh
         FROM sh"""),

    // MinHash+LSH near-dup candidate pairs, verified with exact n-gram
    // Jaccard on the distinct shingle sets (the full near-dedup pipeline).
    // Shingles are recomputed per consumer (signatures + both sides of
    // the pair→set join) rather than cached: the single-pass shingle
    // kernel is map-side cheap, and at 100 TB a corpus-sized cache is
    // infeasible anyway — recompute is the scale-correct plan (and no
    // executor memory is pinned across a long-lived session).
    Query("t2_lsh_jaccard", (s, dir) => {
      // the gate drops no pair: gated docs that would feed `sets` are
      // only ever read through the INNER join on pairs
      val docs = Dedup.gatedShingles(T(s, dir, "documents"), 3, "shingles")
      val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "shingles",
        k = 8, bands = 4, preGated = true)
      val sets = docs.select(col("doc_id"),
        array_distinct(col("shingles")).as("ss"))
      pairs
        .join(sets.select(col("doc_id").as("id_a"), col("ss").as("__sa")),
          Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("ss").as("__sb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(graft.functions.SketchExpressions
            .jaccard(col("__sa"), col("__sb")), 6).as("jac"))
    },
      raw"""WITH $minhashBandsSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh)
         SELECT id_a, id_b,
           round(CAST(len(list_filter(x.ss, e -> list_contains(y.ss, e)))
                      AS DOUBLE)
             / (len(x.ss) + len(y.ss)
                - len(list_filter(x.ss, e -> list_contains(y.ss, e)))), 6)
             AS jac
         FROM pairs
         JOIN sets x ON x.doc_id = id_a
         JOIN sets y ON y.doc_id = id_b"""),

    // Near-dup threshold tuning curve: exact-Jaccard histogram over
    // the LSH candidate pairs (decile bins) — where you LOOK before
    // picking the 0.5 cut every dedup query inherits: a bimodal
    // histogram separates true near-dups from band-collision noise; a
    // flat one says re-tune k/bands, not the threshold. Same candidate
    // machinery as t2 (bucketed, never all-pairs) + a 10-row agg; the
    // bin edges are floor(10·j) on the SAME IEEE division both engines
    // compute, so the twin is exact.
    Query("t85_jaccard_sweep", (s, dir) => {
      val docs = Dedup.gatedShingles(T(s, dir, "documents"), 3, "shingles")
      val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "shingles",
        k = 8, bands = 4, preGated = true)
      val sets = docs.select(col("doc_id"),
        array_distinct(col("shingles")).as("ss"))
      pairs
        .join(sets.select(col("doc_id").as("id_a"), col("ss").as("__sa")),
          Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("ss").as("__sb")),
          Seq("id_b"))
        .select(graft.functions.SketchExpressions
          .jaccard(col("__sa"), col("__sb")).as("__jac"))
        .where(col("__jac").isNotNull)
        .select(least(floor(col("__jac") * 10), lit(9.0)).cast("long")
          .as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    },
      raw"""WITH $minhashBandsSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh),
         j AS (
           SELECT CAST(len(list_filter(x.ss, e -> list_contains(y.ss, e)))
                       AS DOUBLE)
             / (len(x.ss) + len(y.ss)
                - len(list_filter(x.ss, e -> list_contains(y.ss, e))))
             AS jac
           FROM pairs
           JOIN sets x ON x.doc_id = id_a
           JOIN sets y ON y.doc_id = id_b)
         SELECT CAST(least(floor(jac * 10), 9) AS BIGINT) AS bin,
           count(*) AS n_pairs
         FROM j WHERE jac IS NOT NULL
         GROUP BY 1"""),

    // SimHash 32-bit signature as a portable bitstring (custom
    // expression: one digest per token in a tight loop).
    Query("t3_simhash", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SketchExpressions
            .simhash32(TextOps.tokens(col("text"))).as("sh")),
      """WITH t AS (
           SELECT doc_id,
             [md5(tok) FOR tok IN string_split_regex(text, '\s+')] AS hs
           FROM documents)
         SELECT doc_id,
           array_to_string(
             [CASE WHEN list_sum(
                [CASE WHEN substr(h, i, 1) BETWEEN '8' AND 'f'
                      THEN 1 ELSE -1 END FOR h IN hs]) > 0
              THEN '1' ELSE '0' END
              FOR i IN generate_series(1, 32)], '') AS sh
         FROM t"""),

    // SimHash dedup DECISIONS: group by the full 32-bit signature and
    // keep the smallest doc id per cluster. Output is cluster-sized
    // (one row per distinct signature), never pair-sized — a banded
    // pair listing goes quadratic on homogeneous corpora (measured
    // 187 s at sf0.1: vocabulary-sharing docs collapse onto few
    // signatures), while the keep-decision table is one partial-
    // aggregated shuffle at any scale. Hamming-radius *search* is the
    // multi-probe ANN path (Vectors.bucketedTopK), not a pair dump.
    Query("t11_simhash_dedup", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SketchExpressions
            .simhash32(TextOps.tokens(col("text"))).as("sh"))
        .groupBy("sh")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs")),
      """WITH t AS (
           SELECT doc_id,
             [md5(tok) FOR tok IN string_split_regex(text, '\s+')] AS hs
           FROM documents),
         sig AS (
           SELECT doc_id,
             array_to_string(
               [CASE WHEN list_sum(
                  [CASE WHEN substr(h, i, 1) BETWEEN '8' AND 'f'
                        THEN 1 ELSE -1 END FOR h IN hs]) > 0
                THEN '1' ELSE '0' END
                FOR i IN generate_series(1, 32)], '') AS sh
           FROM t)
         SELECT sh, min(doc_id) AS keep_id, count(*) AS n_docs
         FROM sig GROUP BY sh"""),

    // Duplicate-CLUSTER assignment: connected components over LSH
    // co-bucket STAR edges (bucket-min → member; identical components
    // to the clique pairs at b−1 vs b(b−1)/2 edges per bucket — see
    // Dedup.lshStarEdges), then every document labeled with its
    // cluster's minimum doc id (singletons label themselves). This is
    // the step pairwise dedup can't express: A~B~C collapses to one
    // cluster even though (A,C) was never a candidate pair.
    Query("t12_dup_clusters", (s, dir) => neardupLabels(s, dir),
      // Transitive closure over the SAME LSH pairs as t2: every node's
      // cluster id is the min id it can reach (plus itself); documents in
      // no pair are their own cluster.
      s"""$neardupLabelSql
         SELECT doc_id, cluster_id FROM lbl"""),

    // Dedup savings report — the "what did near-dedup buy" artifact
    // you read before paying for a corpus-wide dedup materialization:
    // cluster-size histogram with total vs kept tokens (keep-min
    // convention, d5's). Reads the ONE staged cluster-label artifact
    // (stagedNeardupLabels — materialized once per corpus snapshot)
    // + a cluster-keyed agg + a histogram-sized agg; the only new
    // shuffles are cluster-count-sized.
    Query("t86_dedup_savings", (s, dir) => {
      val toks = T(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tok"))
      val per = stagedNeardupLabels(s, dir).join(toks, Seq("doc_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"), sum(col("n_tok")).as("tok"),
          min(struct(col("doc_id"), col("n_tok"))).as("__keep"))
      per.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("tok")).as("total_tokens"),
          (sum(col("tok")) - sum(col("__keep.n_tok")))
            .as("tokens_saved"))
    },
      s"""$neardupLabelSql,
         tk AS (
           SELECT doc_id,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
               AS n_tok
           FROM documents),
         per AS (
           SELECT l.cluster_id, count(*) AS sz, sum(tk.n_tok) AS tok,
             min(l.doc_id) AS keep_id
           FROM lbl l JOIN tk ON tk.doc_id = l.doc_id
           GROUP BY 1),
         kept AS (
           SELECT p.sz, p.tok, tk.n_tok AS kept_tok
           FROM per p JOIN tk ON tk.doc_id = p.keep_id)
         SELECT sz AS cluster_size, count(*) AS n_clusters,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           CAST(sum(tok) - sum(kept_tok) AS BIGINT) AS tokens_saved
         FROM kept GROUP BY 1"""),

    // Dedup-scope audit (the FineWeb finding, Penedo et al. 2024:
    // deduplicating each crawl snapshot individually can beat one
    // global pass — the audit that decides the scope is this table).
    // Per snapshot: docs a within-snapshot exact dedup keeps vs a
    // global (all-snapshots) dedup, split into within-snapshot
    // copies and cross-snapshot copies of EARLIER snapshots.
    // Snapshot = doc_id % 3 (the testdata carries no crawl date;
    // deterministic stand-in, documented). Both keep flags fall out
    // of one window family PARTITIONED BY the canonical hash — the
    // corpus shuffles once on h, never through a global window — and
    // the report is one snapshot-cardinality agg. Keep order is
    // (snapshot, doc_id): the earliest crawl owns the document, so
    // kept_global ≤ kept_scoped per snapshot by construction.
    Query("t98_dedup_scope", (s, dir) => {
      val d = T(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 3).as("snap"),
          md5(graft.functions.SketchExpressions
            .canonicalizeText(col("text"))).as("h"))
      val wG = Window.partitionBy("h").orderBy(col("snap"), col("doc_id"))
      val wS = Window.partitionBy("h", "snap").orderBy(col("doc_id"))
      d.withColumn("keep_g", (row_number().over(wG) === 1).cast("long"))
        .withColumn("keep_s", (row_number().over(wS) === 1).cast("long"))
        .groupBy("snap")
        .agg(count(lit(1)).as("n_docs"),
          sum("keep_s").as("kept_scoped"),
          sum("keep_g").as("kept_global"),
          (sum("keep_s") - sum("keep_g")).as("cross_dups"),
          (count(lit(1)) - sum("keep_s")).as("within_dups"))
        .withColumn("scoped_keep_ppm",
          expr("kept_scoped * 1000000L div n_docs"))
        .withColumn("global_keep_ppm",
          expr("kept_global * 1000000L div n_docs"))
    },
      // Same canonical-hash expression as the t54 twin; both keep
      // flags are row_number()=1 windows keyed by the hash, and the
      // derived counts cast back to BIGINT (sum() widens to HUGEINT).
      s"""WITH d AS (
           SELECT doc_id, doc_id % 3 AS snap,
             $canonHashSql AS h
           FROM documents),
         f AS (SELECT snap,
             CASE WHEN row_number() OVER (PARTITION BY h
               ORDER BY snap, doc_id) = 1 THEN 1 ELSE 0 END AS keep_g,
             CASE WHEN row_number() OVER (PARTITION BY h, snap
               ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS keep_s
           FROM d),
         a AS (SELECT snap, count(*) AS n_docs,
             sum(keep_s) AS kept_scoped, sum(keep_g) AS kept_global
           FROM f GROUP BY snap)
         SELECT CAST(snap AS BIGINT) AS snap,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(kept_scoped AS BIGINT) AS kept_scoped,
           CAST(kept_global AS BIGINT) AS kept_global,
           CAST(kept_scoped - kept_global AS BIGINT) AS cross_dups,
           CAST(n_docs - kept_scoped AS BIGINT) AS within_dups,
           CAST(kept_scoped * 1000000 // n_docs AS BIGINT)
             AS scoped_keep_ppm,
           CAST(kept_global * 1000000 // n_docs AS BIGINT)
             AS global_keep_ppm
         FROM a"""),

    // Document fingerprint: bottom-4 sketch of md5'd word 5-grams.
    // Single-pass kernel: k-sized buffer straight off the token bytes —
    // no shingle strings, no full hash array, no O(s log s) sort
    // (equivalence vs the declarative sort form: SketchExprSpec).
    Query("t8_fingerprint", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.SketchExpressions
            .bottomKShingleHashes(TextOps.tokens(col("text")), 5, 4)
            .as("__h"))
        .select(col("doc_id"),
          TextOps.fingerprintFrom(col("__h"), col("text")).as("fp")),
      """WITH t AS (
           SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
           FROM documents),
         h AS (
           SELECT doc_id, text,
             list_sort([md5(array_to_string(toks[i:i+4], ' '))
                        FOR i IN generate_series(1, len(toks)-4)]) AS hs
           FROM t)
         SELECT doc_id,
           CASE WHEN len(hs) > 0 THEN array_to_string(hs[1:4], '')
                ELSE md5(text) END AS fp
         FROM h"""),

    // Decontamination: flag training documents sharing any word 3-gram
    // with the (small) eval/benchmark set. The eval shingle set is
    // distinct + broadcast — the 100 TB shape: benchmark suites are
    // tiny, so contamination checking is a map-side broadcast join
    // against the full corpus scan, never a corpus shuffle.
    Query("t13_decontaminate", (s, dir) => {
      val sh = T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SketchExpressions
            .wordShingles(TextOps.tokens(col("text")), 3).as("sh"))
      // explode_OUTER + the null-gram drop ≡ inner explode (shingle
      // elements are never null), but stops InferFiltersFromGenerate
      // from re-evaluating the shingle kernel in a pushed filter
      // (r20 plans: 4 in-filter kernel copies on this query)
      val evalGrams = sh.where(col("doc_id") % 97 === 0)
        .select(explode_outer(col("sh")).as("g"))
        .where(col("g").isNotNull).distinct()
      sh.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode_outer(col("sh")).as("g"))
        .where(col("g").isNotNull)
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_hits"))
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             [array_to_string(toks[i:i+2], ' ')
              FOR i IN generate_series(1, len(toks)-2)] AS s
           FROM t WHERE len(toks) >= 3),
         ev AS (
           SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
         tr AS (
           SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0)
         SELECT tr.doc_id, count(DISTINCT tr.g) AS n_hits
         FROM tr JOIN ev ON tr.g = ev.g
         GROUP BY tr.doc_id"""),

    // Gopher-style repetition: fraction of word 3-grams that repeat an
    // earlier 3-gram of the same document. Map-side only; single-pass
    // kernel (declarative twin TextOps.dupNgramFraction re-evaluates
    // the interpreted shingle array per reference — was 11.7s of the
    // 45s sf0.1 bench).
    Query("t16_dup_ngram_frac", (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        round(graft.functions.SketchExpressions
          .dupNgramFraction(TextOps.tokens(col("text")), 3), 6)
          .as("dup_frac")),
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i:i+2], ' ')
                        FOR i IN generate_series(1, len(toks)-2)]
                  END AS grams
           FROM t)
         SELECT doc_id,
           CASE WHEN grams IS NOT NULL AND len(grams) > 0
                THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                           / CAST(len(grams) AS DOUBLE), 6)
                END AS dup_frac
         FROM g"""),

    // Gopher repetition signals at line granularity: duplicate-line
    // fraction and duplicate-line CHARACTER fraction over fixed
    // 10-token pseudo-lines (corpus text has no newlines). Map-side.
    Query("t18_dup_lines", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SketchExpressions
            .tokenChunks(TextOps.tokens(col("text")), 10).as("__ln"))
        .select(col("doc_id"),
          round(TextOps.dupElementFraction(col("__ln")), 6)
            .as("dup_line_frac"),
          round(TextOps.dupCharFraction(col("__ln")), 6)
            .as("dup_char_frac")),
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         l AS (
           SELECT doc_id,
             [array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' ')
              FOR i IN generate_series(1,
                CAST(ceil(len(toks) / 10.0) AS INT))] AS ln
           FROM t)
         SELECT doc_id,
           CASE WHEN len(ln) > 0 THEN
             round(1.0 - CAST(len(list_distinct(ln)) AS DOUBLE)
                   / CAST(len(ln) AS DOUBLE), 6) END AS dup_line_frac,
           CASE WHEN list_sum([len(x) FOR x IN ln]) > 0 THEN
             round(1.0 -
               CAST(list_sum([len(x) FOR x IN list_distinct(ln)])
                    AS DOUBLE)
               / CAST(list_sum([len(x) FOR x IN ln]) AS DOUBLE), 6)
             END AS dup_char_frac
         FROM l"""),

    // MinHash accuracy audit: estimated Jaccard (fraction of agreeing
    // signature positions) vs exact n-gram Jaccard on the LSH candidate
    // pairs — the production knob for choosing k/bands. Pairs are tiny
    // relative to the corpus, so the two signature joins broadcast at
    // scale; signatures are map-side sketches.
    Query("t20_minhash_est", (s, dir) => {
      val sh = Dedup.gatedShingles(T(s, dir, "documents"), 3, "sh")
      val sig = sh.select(col("doc_id"),
        graft.functions.SketchExpressions.minhashSig(col("sh"), 8)
          .as("sig"),
        array_distinct(col("sh")).as("ss"))
      val pairs = Dedup.lshCandidatePairs(sh, "doc_id", "sh",
        k = 8, bands = 4, preGated = true)
      pairs
        .join(sig.select(col("doc_id").as("id_a"), col("sig").as("siga"),
          col("ss").as("ssa")), Seq("id_a"))
        .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sigb"),
          col("ss").as("ssb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(aggregate(
            zip_with(col("siga"), col("sigb"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / 8.0, 6)
            .as("est_jac"),
          round(graft.functions.SketchExpressions
            .jaccard(col("ssa"), col("ssb")), 6).as("jac"))
    },
      raw"""WITH $minhashBandsSql,
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
         sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh)
         SELECT id_a, id_b,
           round(CAST(list_sum(
             [CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END
              FOR i IN generate_series(1, 8)]) AS DOUBLE) / 8.0, 6)
             AS est_jac,
           round(CAST(len(list_filter(x.ss, e -> list_contains(y.ss, e)))
                      AS DOUBLE)
             / (len(x.ss) + len(y.ss)
                - len(list_filter(x.ss, e -> list_contains(y.ss, e)))), 6)
             AS jac
         FROM pairs
         JOIN mh sa ON sa.doc_id = id_a
         JOIN mh sb ON sb.doc_id = id_b
         JOIN sets x ON x.doc_id = id_a
         JOIN sets y ON y.doc_id = id_b"""),

    // Near-dedup resolution: one kept document per duplicate cluster
    // (the cluster label IS the min doc_id by construction) with member
    // counts — the step that turns t12's clusters into the deduped
    // corpus. Reads the STAGED label artifact (stagedNeardupLabels —
    // labels materialize once per corpus, plan-locked LSH/CC-free
    // here), plus one cluster-keyed agg.
    Query("d5_neardup_keep", (s, dir) =>
      stagedNeardupLabels(s, dir)
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs")),
      raw"""WITH RECURSIVE $minhashBandsSql,
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
         SELECT CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin
                     THEN d.doc_id ELSE m.rmin END AS cluster_id,
           count(*) AS n_docs
         FROM documents d
         LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
           ON m.id = d.doc_id
         GROUP BY 1"""),

    // Quality-aware canonical selection: d5 keeps each near-dup
    // cluster's MIN doc_id; real pipelines keep the BEST copy — the
    // member maximizing the quality kernel (doc_id tiebreak). Labels
    // come off the staged artifact (materialize-once), then one
    // per-cluster window over cluster-sized groups; singletons keep
    // themselves via the left-join coalesce.
    Query("t56_keep_best", (s, dir) => {
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("q_score").desc, col("doc_id"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SketchExpressions.textStats(col("text"))
            .as("__st"))
        .select(col("doc_id"),
          TextOps.qualityScoreFrom(col("__st")).as("q_score"))
        .join(stagedNeardupLabels(s, dir), Seq("doc_id"))
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("kept_doc"),
          col("q_score").as("q_kept"))
    },
      raw"""WITH RECURSIVE $minhashBandsSql,
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
         q AS (
           SELECT doc_id, round(
             least(CAST(len(string_split_regex(text,'\s+')) AS DOUBLE)
                   / 100.0, 1.0) * 0.4
             + CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE)
               / greatest(CAST(len(text) AS DOUBLE), 1.0) * 0.3
             + CAST(len(list_filter(string_split_regex(lower(text),'\s+'),
                 x -> list_contains(
                   ['the','and','of','to','in','is','that','it'], x)))
                 AS DOUBLE)
               / greatest(CAST(len(string_split_regex(text,'\s+'))
                          AS DOUBLE), 1.0) * 0.2
             + least((CAST(len(text) AS DOUBLE)
                      - len(regexp_replace(text, '[.,!?;:]', '', 'g')))
                     / greatest(CAST(len(text) AS DOUBLE), 1.0) * 10.0,
                     1.0) * 0.1, 6) AS q_score
           FROM documents),
         cl AS (
           SELECT d.doc_id, q.q_score,
             CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin
                  THEN d.doc_id ELSE m.rmin END AS cluster_id
           FROM documents d
           LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
             ON m.id = d.doc_id
           JOIN q ON q.doc_id = d.doc_id)
         SELECT cluster_id, doc_id AS kept_doc, q_score AS q_kept
         FROM cl
         QUALIFY row_number() OVER (PARTITION BY cluster_id
           ORDER BY q_score DESC, doc_id) = 1"""),

    // Per-source duplication health: what fraction of each source's
    // documents are non-canonical members of a near-dup cluster (the
    // metric that tells you which feed is paying for redundant
    // storage/training). Canonical = cluster min id, d5's convention;
    // the rate is dropped/total per source. Cluster labels read off
    // the staged artifact; the per-source agg is a tiny shuffle.
    Query("t57_source_dup_rate", (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(stagedNeardupLabels(s, dir), Seq("doc_id"))
        .select(col("source"),
          (col("cluster_id") =!= col("doc_id")).cast("long").as("__dup"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("__dup")).as("n_dup"),
          round(sum(col("__dup")).cast("double") / count(lit(1)), 6)
            .as("dup_rate")),
      raw"""WITH RECURSIVE $minhashBandsSql,
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
         cl AS (
           SELECT d.doc_id, d.source,
             CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin
                  THEN d.doc_id ELSE m.rmin END AS cluster_id
           FROM documents d
           LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
             ON m.id = d.doc_id)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CAST(cluster_id <> doc_id AS INT)) AS BIGINT)
             AS n_dup,
           round(CAST(sum(CAST(cluster_id <> doc_id AS INT)) AS DOUBLE)
                 / count(*), 6) AS dup_rate
         FROM cl GROUP BY source"""),

    // Corpus line-level dedup REWRITE (the CCNet/FineWeb boilerplate
    // scrub): t23 only REPORTS cross-document pseudo-lines; this
    // rewrites every document with those lines removed — headers,
    // footers, license blocks that repeat across pages. Shape: one
    // corpus-line-keyed shuffle builds the line doc-frequency table.
    // The df>1 "boilerplate" subset is CORPUS-PROPORTIONAL on the
    // real web (boilerplate is a huge, growing set at CC scale), so
    // it must never ride a forced broadcast; instead a FIXED-SIZE
    // bloom (2^20 bits — constant whatever the corpus) built over the
    // boilerplate hashes broadcasts as one row. Lines the bloom
    // rejects are definitively clean and stay map-side (zero shuffle
    // — the dominant branch: most corpus lines are unique); only the
    // bloom-positive sliver (true boilerplate + the bounded
    // false-positive rate) pays the exact anti-join, UNHINTED so AQE
    // broadcasts it only when it measures small. Bloom false
    // positives resolve in that exact join — bit-identical to a plain
    // anti-join at any bloom size. Costs one extra corpus scan (the
    // two branches) vs the old single-lineage shape; at 100 TB a
    // rescan is linear IO while a corpus-proportional broadcast OOMs
    // outright. The reassembly groupBy(doc_id) is the one remaining
    // corpus-sized shuffle and carries only surviving line text.
    // Documents whose every line is boilerplate drop out — the
    // pipeline's drop-empty-docs step, folded in.
    Query("t80_line_dedup", (s, dir) => {
      // posexplode_OUTER + the null-line drop ≡ the inner posexplode
      // (chunk elements are never null; outer-only rows have a null
      // line), but the outer form stops InferFiltersFromGenerate from
      // pushing a size(tokenChunks(…))>0 filter below the projection —
      // the r20 plans showed that inferred filter re-running the chunk
      // kernel in EVERY one of this query's replicated scan branches
      val lines = T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SketchExpressions
            .tokenChunks(TextOps.tokens(col("text")), 10).as("chs"))
        .select(col("doc_id"), size(col("chs")).cast("long").as("n_lines"),
          posexplode_outer(col("chs")).as(Seq("pos", "line")))
        .where(col("line").isNotNull)
        .withColumn("lh", md5(col("line")))
      val boiler = lines.groupBy("lh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") > 1)
        .select(col("lh"))
      val bloom = boiler.agg(graft.functions.BloomExpressions
        .bloomFilter(col("lh"), 1 << 20, 5).as("__bits"))
      val tagged = lines.crossJoin(broadcast(bloom))
        .withColumn("__maybe", graft.functions.BloomExpressions
          .bloomMightContain(col("__bits"), col("lh")))
        .drop("__bits")
      val clean = tagged.where(!col("__maybe")).drop("__maybe")
      val resolved = tagged.where(col("__maybe")).drop("__maybe")
        .join(boiler, Seq("lh"), "left_anti")
      clean.unionByName(resolved)
        .groupBy("doc_id")
        .agg(first(col("n_lines")).as("n_lines"),
          concat_ws(" ",
            transform(
              array_sort(collect_list(struct(col("pos"), col("line")))),
              c => c("line"))).as("text_clean"),
          count(lit(1)).as("n_kept"))
        .select(col("doc_id"), col("text_clean"), col("n_lines"),
          (col("n_lines") - col("n_kept")).as("n_dropped"))
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         l AS (
           SELECT doc_id, CAST(ceil(len(toks) / 10.0) AS BIGINT)
               AS n_lines,
             unnest(generate_series(1,
               CAST(ceil(len(toks) / 10.0) AS INT))) AS pos,
             unnest([array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' ')
                     FOR i IN generate_series(1,
                       CAST(ceil(len(toks) / 10.0) AS INT))]) AS line
           FROM t),
         b AS (
           SELECT md5(line) AS lh FROM l GROUP BY md5(line)
           HAVING count(DISTINCT doc_id) > 1)
         SELECT doc_id,
           string_agg(line, ' ' ORDER BY pos) AS text_clean,
           any_value(n_lines) AS n_lines,
           any_value(n_lines) - count(*) AS n_dropped
         FROM l WHERE md5(line) NOT IN (SELECT lh FROM b)
         GROUP BY doc_id"""),

    // LSH index-quality metric — recall AND precision of the minhash
    // band index against exact Jaccard ground truth (the dedup-side
    // twin of t60_ivf_recall: the number that tunes k/bands before a
    // corpus-wide dedup run believes its candidate set). t60's probe
    // shape: an ABSOLUTE-bounded probe set (≤100 docs at any corpus
    // size) is scored against the FULL corpus — truth is each probe's
    // true Jaccard >= 0.5 neighbors anywhere in the corpus (probe side
    // broadcast: one linear corpus pass, never corpus all-pairs), and
    // candidates are the probes' `Dedup.lshBandKeys` joined to the
    // corpus band keys — the exact index surface production dedup
    // queries (8 hashes, 4 bands). Pairs keep probe orientation
    // (probe_id, other_id), matching t60's per-query framing. Integer-
    // ppm ratios; recall < 1 is expected by design (band-index hit
    // probability 1-(1-J^2)^4 ≈ 0.68 at J = 0.5).
    Query("t76_lsh_recall", (s, dir) => {
      val shingled = T(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.SketchExpressions
            .wordShingles(TextOps.tokens(col("text")), 3).as("shingles"))
      val isProbe = col("doc_id") % 20 === 0 && col("doc_id") < 2000
      // ONE tokenize+shingle pass: sets is cut once and feeds all four
      // consumers (truth probe + corpus sides, band-key probe + corpus
      // sides) — uncut, the corpus re-tokenized per consumer (r19).
      // Band keys derive from the DISTINCTed arrays: minhash is a min
      // over per-element hashes, so duplicates cannot change any
      // signature, and bandedKeys applies the same size>0 gate —
      // identical keys, one pass.
      val sets = shingled
        .select(col("doc_id"), array_distinct(col("shingles")).as("ss"))
        .where(size(col("ss")) > 0)
        .localCheckpoint(false)
      // Exact ground truth as an INTERSECTION COUNT, not a per-pair
      // set kernel (r20, guide §2.3/§8 — decide with small rows): the
      // old shape nested-loop-joined every (probe, corpus) pair and
      // rebuilt a hash set per pair (O(probes · corpus · |set|) —
      // measured 3.4 task-seconds at sf0.1, nearly all of t76).
      // Shared shingles are an equi-join: explode both sides of the
      // one cut `sets` pass, broadcast-hash-join on the shingle, and
      // count matches per pair — the arrays are DISTINCTed upstream,
      // so the match count IS |A∩B|, and J ≥ 0.5 ⇔ 2|A∩B| ≥ |A∪B| =
      // |A|+|B|−|A∩B| ⇔ 3·|A∩B| ≥ |A|+|B|, exact integers. Pairs with
      // J ≥ 0.5 share ≥ 1 shingle, so the equi-join loses nothing —
      // result-identical, work O(shared shingles) not O(pairs·|set|),
      // and the count aggregation parallelizes past the corpus scan's
      // row-group count (isolated sf0.1: t76 2.9 → see plans/r20).
      val truth = sets.where(isProbe)
        .select(col("doc_id").as("probe_id"),
          size(col("ss")).cast("long").as("__na"),
          explode(col("ss")).as("__sh"))
        .hint("broadcast")
        .join(sets.select(col("doc_id").as("other_id"),
          size(col("ss")).cast("long").as("__nb"),
          explode(col("ss")).as("__sh")), Seq("__sh"))
        .where(col("probe_id") =!= col("other_id"))
        .groupBy("probe_id", "other_id")
        .agg(count(lit(1)).as("__i"),
          first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
        .where(col("__i") * 3 >= col("__na") + col("__nb"))
        .select("probe_id", "other_id")
      val keys = Dedup.lshBandKeys(sets, "doc_id", "ss",
        k = 8, bands = 4)
      val cand = broadcast(keys.where(isProbe)
          .select(col("doc_id").as("probe_id"), col("band"), col("bh")))
        .join(keys.select(col("doc_id").as("other_id"),
          col("band"), col("bh")), Seq("band", "bh"))
        .where(col("probe_id") =!= col("other_id"))
        .select("probe_id", "other_id").distinct()
      // one full-outer join + one aggregate: truth and cand (the two
      // expensive corpus passes) each compute exactly ONCE — separate
      // count aggregates would re-derive both subtrees per scalar
      truth.withColumn("__t", lit(1L))
        .join(cand.withColumn("__c", lit(1L)),
          Seq("probe_id", "other_id"), "full_outer")
        .agg(count(col("__t")).as("n_truth"),
          count(col("__c")).as("n_cand"),
          count(when(col("__t").isNotNull && col("__c").isNotNull,
            lit(1))).as("n_hit"))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          when(col("n_truth") > 0,
            expr("(1000000 * n_hit) div n_truth")).as("recall_ppm"),
          when(col("n_cand") > 0,
            expr("(1000000 * n_hit) div n_cand")).as("precision_ppm"))
    },
      raw"""WITH $minhashBandsSql,
         sets AS (SELECT doc_id, list_distinct(s) AS ss FROM sh),
         truth AS (
           SELECT a.doc_id AS probe_id, b.doc_id AS other_id
           FROM sets a JOIN sets b ON a.doc_id <> b.doc_id
           WHERE a.doc_id % 20 = 0 AND a.doc_id < 2000
             AND CAST(len(list_filter(a.ss, e -> list_contains(b.ss, e)))
                      AS DOUBLE)
             / (len(a.ss) + len(b.ss)
                - len(list_filter(a.ss, e -> list_contains(b.ss, e))))
             >= 0.5),
         cand AS (
           SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS other_id
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bh = b.bh AND a.doc_id <> b.doc_id
           WHERE a.doc_id % 20 = 0 AND a.doc_id < 2000),
         nt AS (SELECT count(*) AS n_truth FROM truth),
         nc AS (SELECT count(*) AS n_cand FROM cand),
         nh AS (
           SELECT count(*) AS n_hit FROM truth x
           WHERE EXISTS (SELECT 1 FROM cand c
             WHERE c.probe_id = x.probe_id
               AND c.other_id = x.other_id))
         SELECT n_truth, n_cand, n_hit,
           CASE WHEN n_truth > 0
                THEN (1000000 * n_hit) // n_truth END AS recall_ppm,
           CASE WHEN n_cand > 0
                THEN (1000000 * n_hit) // n_cand END AS precision_ppm
         FROM nt CROSS JOIN nc CROSS JOIN nh"""),

    // Cross-document boilerplate: pseudo-lines (10-token chunks)
    // occurring in more than one document — the corpus-level line-dedup
    // signal (headers/footers/licenses at web scale). Line text never
    // shuffles: lines hash map-side (md5) and only (hash, doc) pairs
    // aggregate; output keeps one example line per hash via min.
    Query("t23_boilerplate_lines", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.SketchExpressions
            .tokenChunks(TextOps.tokens(col("text")), 10))
            .as("line"))
        .groupBy(md5(col("line")).as("line_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("line")).as("line"))
        .where(col("n_docs") > 1),
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         l AS (
           SELECT doc_id,
             unnest([array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' ')
                     FOR i IN generate_series(1,
                       CAST(ceil(len(toks) / 10.0) AS INT))]) AS line
           FROM t)
         SELECT md5(line) AS line_hash,
           count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
           min(line) AS line
         FROM l GROUP BY md5(line)
         HAVING count(DISTINCT doc_id) > 1"""),

    // Fuzzy decontamination: a training document is suspect iff it
    // shares ANY MinHash-LSH band bucket with a held-out benchmark
    // document (doc_id % 20 == 0 plays the benchmark). Semi-join on
    // band keys — near-dup recall without ever materializing pairs;
    // the exact-match twin is t13.
    Query("t31_fuzzy_decontam", (s, dir) => {
      val keys = Dedup.lshBandKeys(
        Dedup.gatedShingles(T(s, dir, "documents"), 3, "sh"),
        "doc_id", "sh", k = 8, bands = 4, preGated = true)
      val bench = keys.where(col("doc_id") % 20 === 0)
        .select(col("band"), col("bh")).distinct()
      val hits = keys.where(col("doc_id") % 20 =!= 0)
        .join(bench, Seq("band", "bh"), "left_semi")
        .select("doc_id").distinct()
      T(s, dir, "documents").where(col("doc_id") % 20 =!= 0)
        .select("doc_id")
        .join(hits.withColumn("__hit", lit(1L)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__hit"), lit(0L)).as("contaminated"))
    },
      raw"""WITH $minhashBandsSql,
         hits AS (
           SELECT DISTINCT tr.doc_id
           FROM bands tr JOIN bands be
             ON tr.b = be.b AND tr.bh = be.bh
           WHERE tr.doc_id % 20 <> 0 AND be.doc_id % 20 = 0)
         SELECT d.doc_id,
           CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END
             AS BIGINT) AS contaminated
         FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         WHERE d.doc_id % 20 <> 0"""),

    // Sub-document dedup: global first-occurrence paragraph (10-token
    // chunk) dedup — every chunk instance after the first occurrence
    // of its hash (ordered by doc, then position) is dropped; output
    // is each document's surviving fraction. The shuffle is keyed by
    // chunk HASH (never chunk text) and each hash group is tiny, so
    // the window is skew-safe at corpus scale.
    Query("t34_paragraph_dedup", (s, dir) => {
      val w = Window.partitionBy(col("__h"))
        .orderBy(col("doc_id"), col("pos"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.SketchExpressions
            .tokenChunks(TextOps.tokens(col("text")), 10)))
        .select(col("doc_id"), col("pos"), md5(col("col")).as("__h"))
        .withColumn("__rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_chunks"), 6)
            .as("kept_frac"))
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, i AS pos,
             md5(array_to_string(toks[(i-1)*10+1:(i-1)*10+10], ' ')) AS h
           FROM t, unnest(generate_series(1,
             CAST(ceil(len(toks) / 10.0) AS INT))) AS u(i)),
         r AS (
           SELECT doc_id,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos)
               AS rn
           FROM c)
         SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS kept_frac
         FROM r GROUP BY doc_id"""),

    // Asymmetric containment |A∩B|/|A| over LSH candidate pairs —
    // catches quotation/subset duplication that symmetric Jaccard
    // under-scores (a doc wholly contained in a bigger one has low
    // Jaccard but containment 1). Same candidate generation as t2;
    // the set intersection runs only on candidates, never all pairs.
    Query("t35_containment", (s, dir) => {
      val docs = Dedup.gatedShingles(T(s, dir, "documents"), 3, "shingles")
      val pairs = Dedup.lshCandidatePairs(docs, "doc_id", "shingles",
        k = 8, bands = 4, preGated = true)
      val sets = docs.select(col("doc_id"),
        array_distinct(col("shingles")).as("ss"))
      pairs
        .join(sets.select(col("doc_id").as("id_a"), col("ss").as("__sa")),
          Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"), col("ss").as("__sb")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(size(array_intersect(col("__sa"), col("__sb")))
            .cast("double") / size(col("__sa")), 6).as("cont_ab"),
          round(size(array_intersect(col("__sa"), col("__sb")))
            .cast("double") / size(col("__sb")), 6).as("cont_ba"))
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             [array_to_string(toks[i:i+2], ' ')
              FOR i IN generate_series(1, len(toks)-2)] AS s
           FROM t WHERE len(toks) >= 3),
         mh AS (
           SELECT doc_id, s,
             [list_min([md5(k::VARCHAR || '|' || x) FOR x IN s])
              FOR k IN generate_series(1, 8)] AS sig
           FROM sh),
         bands AS (
           SELECT doc_id, b, md5(sig[2*b-1] || sig[2*b]) AS bh
           FROM mh, unnest(generate_series(1, 4)) AS u(b)),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
         ds AS (SELECT doc_id, list_distinct(s) AS ss FROM sh)
         SELECT id_a, id_b,
           round(CAST(len(list_intersect(x.ss, y.ss)) AS DOUBLE)
             / len(x.ss), 6) AS cont_ab,
           round(CAST(len(list_intersect(x.ss, y.ss)) AS DOUBLE)
             / len(y.ss), 6) AS cont_ba
         FROM pairs JOIN ds x ON x.doc_id = id_a
         JOIN ds y ON y.doc_id = id_b"""),

    // Bloom-prefiltered decontamination — same answer as the exact
    // 3-gram join (t13), gated against the SAME exact-join oracle: a
    // Bloom filter has no false negatives, so prefilter + exact
    // confirm ≡ exact. The eval-set grams reduce to one 64 KiB bitmap
    // (mergeable partial agg), broadcast as a 1-row cross join, and the
    // corpus grams are filtered MAP-SIDE before the join — at 100 TB
    // the shuffle carries only bloom-positive grams (FP rate ~0.6% at
    // k=5, m/n≈10) instead of every gram in the corpus.
    Query("t40_bloom_decontam", (s, dir) => {
      import graft.functions.{BloomExpressions, SketchExpressions}
      val sh = T(s, dir, "documents")
        .select(col("doc_id"),
          SketchExpressions.wordShingles(TextOps.tokens(col("text")), 3)
            .as("sh"))
      // explode_OUTER + null-gram drop ≡ inner explode (t13's rationale)
      val evalGrams = sh.where(col("doc_id") % 97 === 0)
        .select(explode_outer(col("sh")).as("g"))
        .where(col("g").isNotNull).distinct()
      val bloom = evalGrams.agg(
        BloomExpressions.bloomFilter(col("g"), 1 << 19, 5).as("__bf"))
      sh.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode_outer(col("sh")).as("g"))
        .where(col("g").isNotNull)
        .crossJoin(broadcast(bloom))
        .where(BloomExpressions.bloomMightContain(col("__bf"), col("g")))
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_hits"))
    },
      // Bloom prefilter must be invisible in the answer: the oracle is
      // the EXACT join, identical to t13's.
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             [array_to_string(toks[i:i+2], ' ')
              FOR i IN generate_series(1, len(toks)-2)] AS s
           FROM t WHERE len(toks) >= 3),
         ev AS (
           SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
         tr AS (
           SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0)
         SELECT tr.doc_id, count(DISTINCT tr.g) AS n_hits
         FROM tr JOIN ev ON tr.g = ev.g
         GROUP BY tr.doc_id"""),

    // Cross-document duplicated-span detection (exact-substring dedup,
    // Lee et al. 2021 "Deduplicating Training Data Makes Language
    // Models Better"): 8-token windows whose gram occurs in ≥ 2
    // distinct documents, merged into maximal spans per document.
    // Gram df is one map-side-combined agg (vocabulary-sized shuffle);
    // the span merge windows only over collision hits — the corpus
    // never self-joins. Span-level output is what lets a pipeline
    // REDACT duplicated regions instead of dropping whole documents.
    Query("t44_dup_spans", (s, dir) => {
      val n = 8
      // Grams hash to 64 bits (md5 prefix — engine-portable) MAP-SIDE
      // in one kernel pass (Spans.gramHashes → WindowHashesExpr:
      // window strings never materialize): the exploded window table
      // is ~n× the corpus in gram-string bytes, so both
      // collision-detection shuffles move 16-byte keys instead of
      // ~50-byte strings. A 64-bit collision falsely marks one window
      // duplicated — ~n²/2⁶⁵, negligible against the LSH layers'
      // documented recall caps.
      val grams = Spans.gramHashes(T(s, dir, "documents"),
        "doc_id", "text", n)
      val dup = grams.groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("__nd"))
        .where(col("__nd") >= 2)
      Spans.mergeSpans(
        grams.join(dup.select("gh"), Seq("gh")).select("doc_id", "pos"),
        "doc_id", "pos", n)
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
         g AS (
           SELECT doc_id,
             unnest([{'p': i,
                      'g': substr(md5(array_to_string(toks[i:i+7], ' ')),
                                  1, 16)}
                     FOR i IN generate_series(1, len(toks)-7)],
                    recursive := true)
           FROM f),
         d AS (SELECT g FROM g GROUP BY g
               HAVING count(DISTINCT doc_id) >= 2),
         h AS (SELECT doc_id, p AS pos, p + 7 AS e
               FROM g JOIN d USING (g)),
         i AS (SELECT doc_id, pos, e,
                 CASE WHEN pos > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1) + 1
                      THEN 1 ELSE 0 END AS nw
               FROM h),
         j AS (SELECT doc_id, pos, e,
                 sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
               FROM i)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
         FROM j GROUP BY doc_id, isl"""),

    // Span-level eval decontamination: exact 8-gram collisions against
    // the held-out set (doc_id % 7 — a denser eval sample than t40's
    // %97 so span structure is actually exercised), reported as merged
    // token spans per training doc. Complements t13 (exact full-text),
    // t31 (fuzzy LSH) and t40 (bloom gate): those flag DOCUMENTS; this
    // locates the contaminated REGION for redaction. The eval gram set
    // is eval-sized → broadcast left-semi; the corpus only shuffles
    // its (few) colliding windows into the span merge.
    Query("t45_decontam_spans", (s, dir) =>
      // Same 64-bit map-side gram hashing as t44: the broadcast eval
      // set and the probe both carry 16-byte keys, not gram strings.
      Spans.decontamSpans(T(s, dir, "documents"), "doc_id", "text",
        n = 8, isEval = col("doc_id") % 7 === 0),
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
         g AS (
           SELECT doc_id,
             unnest([{'p': i,
                      'g': substr(md5(array_to_string(toks[i:i+7], ' ')),
                                  1, 16)}
                     FOR i IN generate_series(1, len(toks)-7)],
                    recursive := true)
           FROM f),
         d AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
         h AS (SELECT doc_id, p AS pos, p + 7 AS e
               FROM g JOIN d USING (g) WHERE doc_id % 7 <> 0),
         i AS (SELECT doc_id, pos, e,
                 CASE WHEN pos > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1) + 1
                      THEN 1 ELSE 0 END AS nw
               FROM h),
         j AS (SELECT doc_id, pos, e,
                 sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
               FROM i)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_windows
         FROM j GROUP BY doc_id, isl"""),

    // Span REDACTION — the consumer of t45's span detection: remove
    // the contaminated token ranges and rebuild the document, keeping
    // clean docs byte-identical (n_kept = token count, md5 over the
    // re-joined text proves the reconstruction end-to-end). After the
    // span join (contaminated-docs-sized, left), the rebuild is pure
    // map-side expression work: filter-with-index over the tokens
    // array vs the per-doc span list. Spark's lambda index is 0-based
    // (DuckDB's is 1-based) — hence the i+1.
    Query("t47_span_redact", (s, dir) => {
      val n = 8
      val docs = T(s, dir, "documents")
      val spans = Spans.decontamSpans(docs, "doc_id", "text",
        n, isEval = col("doc_id") % 7 === 0)
        .groupBy("doc_id")
        .agg(collect_list(struct(col("span_start").as("s"),
          col("span_end").as("e"))).as("spans"))
      docs.where(col("doc_id") % 7 =!= 0)
        .join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"),
          coalesce(col("spans"),
            array().cast("array<struct<s:bigint,e:bigint>>")).as("sp"))
        .select(col("doc_id"),
          filter(col("toks"), (t, i) =>
            !exists(col("sp"),
              sp => (i + 1) >= sp("s") && (i + 1) <= sp("e"))).as("kept"))
        .select(col("doc_id"), size(col("kept")).cast("long").as("n_kept"),
          md5(concat_ws(" ", col("kept"))).as("redacted_md5"))
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
         g AS (
           SELECT doc_id,
             unnest([{'p': i,
                      'g': substr(md5(array_to_string(toks[i:i+7], ' ')),
                                  1, 16)}
                     FOR i IN generate_series(1, len(toks)-7)],
                    recursive := true)
           FROM f),
         d AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
         h AS (SELECT doc_id, p AS pos, p + 7 AS e
               FROM g JOIN d USING (g) WHERE doc_id % 7 <> 0),
         i AS (SELECT doc_id, pos, e,
                 CASE WHEN pos > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1) + 1
                      THEN 1 ELSE 0 END AS nw
               FROM h),
         j AS (SELECT doc_id, pos, e,
                 sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
               FROM i),
         sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e
                FROM j GROUP BY doc_id, isl),
         r AS (SELECT doc_id, list({'s': s, 'e': e}) AS spans
               FROM sp GROUP BY doc_id),
         base AS (SELECT t.doc_id, t.toks, coalesce(r.spans, []) AS spans
                  FROM t LEFT JOIN r USING (doc_id)
                  WHERE t.doc_id % 7 <> 0),
         k AS (SELECT doc_id,
                 list_filter(toks, (x, ix) ->
                   len(list_filter(spans,
                     s -> ix >= s.s AND ix <= s.e)) = 0) AS kept
               FROM base)
         SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
           md5(coalesce(array_to_string(kept, ' '), '')) AS redacted_md5
         FROM k"""),

    // Eval-integrity report — t45's transpose, the direction teams
    // actually publish: for each HELD-OUT doc, how many training docs
    // share an exact 8-gram with it and how much of it is exposed.
    // The eval side of the join is eval-sized; the train side
    // pre-distincts (train_id, gh) map-side so a boilerplate gram
    // repeated 10⁶× in one doc contributes one row, and the groupBy
    // is keyed by eval doc — output is eval-suite-sized.
    Query("t51_eval_exposure", (s, dir) => {
      val n = 8
      val grams = Spans.gramHashes(T(s, dir, "documents"),
        "doc_id", "text", n)
      val ev = grams.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("eval_id"), col("gh"))
      // broadcast-filter the corpus windows to eval collisions BEFORE
      // any distinct: the (train_id, gh) dedup then shuffles only the
      // hits, not every window in the corpus
      val evalSet = ev.select("gh").distinct()
      val tr = grams.where(col("doc_id") % 7 =!= 0)
        .join(broadcast(evalSet), Seq("gh"), "left_semi")
        .select(col("doc_id").as("train_id"), col("gh")).distinct()
      ev.join(tr, Seq("gh"))
        .groupBy("eval_id")
        .agg(countDistinct(col("train_id")).as("n_train_docs"),
          countDistinct(col("gh")).as("n_shared_grams"))
    },
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
         g AS (
           SELECT doc_id,
             unnest([{'p': i,
                      'g': substr(md5(array_to_string(toks[i:i+7], ' ')),
                                  1, 16)}
                     FOR i IN generate_series(1, len(toks)-7)],
                    recursive := true)
           FROM f),
         ev AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 7 = 0),
         tr AS (SELECT DISTINCT doc_id AS train_id, g
                FROM g WHERE doc_id % 7 <> 0)
         SELECT eval_id,
           count(DISTINCT train_id) AS n_train_docs,
           count(DISTINCT ev.g) AS n_shared_grams
         FROM ev JOIN tr USING (g)
         GROUP BY eval_id"""),

    // Provenance overlap matrix: which SOURCES duplicate each other
    // (crawl-vs-crawl redundancy — what you consult before paying to
    // ingest a new feed). (source, gh) distincts MAP-SIDE first, so
    // each source contributes a gram once no matter how often it
    // repeats; the self-join fans out per gram only to the sources
    // actually sharing it (≤ #sources, a constant) — never doc×doc.
    Query("t52_source_overlap", (s, dir) => {
      val n = 8
      val g = T(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.SketchExpressions
            .windowHashes(TextOps.tokens(col("text")), n)).as("__w"))
        .select(col("source"), col("__w.gh").as("gh")).distinct()
      g.select(col("source").as("source_a"), col("gh"))
        .join(g.select(col("source").as("source_b"), col("gh")), Seq("gh"))
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(countDistinct(col("gh")).as("n_shared_grams"))
    },
      """WITH t AS (
           SELECT source, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT source, toks FROM t WHERE len(toks) >= 8),
         g AS (SELECT DISTINCT source,
             unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16)
                     FOR i IN generate_series(1, len(toks)-7)]) AS gh
           FROM f)
         SELECT a.source AS source_a, b.source AS source_b,
           count(DISTINCT a.gh) AS n_shared_grams
         FROM g a JOIN g b USING (gh)
         WHERE a.source < b.source
         GROUP BY 1, 2"""),

    // t52's sketch tier, SELF-GATED (the ε bounds folded into the
    // query — no rows-only category left). The production path is
    // unchanged: per-source KMV sketches of the gram-hash stream
    // (O(K) state per source, BottomKStringsAgg — mergeable partials,
    // no corpus-wide distinct, ONE text pass), every pairwise
    // estimate derived declaratively from the k-minimum values —
    // J ≈ |U∩A∩B|/|U| with U the K smallest of the union,
    // |A∪B| ≈ (K−1)/F(h_K) (a2's estimator), shared ≈ J·|A∪B|.
    // The fold: each estimate column snaps to the EXACT answer when
    // it sits inside its band — shared within t52c's resolution band
    // (one union slot ≈ est_union/K grams → |est−exact| ≤
    // 5·est_union/K + exact; disjoint pairs ≤ 5 structurally), union
    // within 25% (≈4σ of the (K−1)/F estimator's ~1/√K rsd), J
    // snapped when both hold — so the DuckDB oracle hash-gates the
    // rows exactly, and an out-of-band estimate emits RAW, fails the
    // hash loudly, and stays inspectable. The exact matrix here is
    // the verification harness (same cost class as t52); the sketch
    // tier alone remains the 100 TB artifact via kmvSourceSketches/
    // kmvOverlapEstimates. ε contract also held in PropertySpec.
    Query("t52b_source_overlap_est", (s, dir) => {
      val n = 8
      val est = Dedup.kmvOverlapEstimates(
        Dedup.kmvSourceSketches(T(s, dir, "documents"), "text", "source",
          n = n, k = 256), k = 256)
      // exact matrix + per-source gram counts for the snap bands —
      // the same distinct (source, gh) stream t52/t52c read
      val g = T(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.SketchExpressions
            .windowHashes(TextOps.tokens(col("text")), n)).as("__w"))
        .select(col("source"), col("__w.gh").as("gh")).distinct()
      val x = g.select(col("source").as("source_a"), col("gh"))
        .join(g.select(col("source").as("source_b"), col("gh")),
          Seq("gh"))
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(countDistinct(col("gh")).as("__x"))
      val cnt = g.groupBy("source").agg(count(lit(1)).as("__c"))
      est
        .join(x, Seq("source_a", "source_b"), "left")
        .join(cnt.select(col("source").as("source_a"),
          col("__c").as("__ca")), Seq("source_a"))
        .join(cnt.select(col("source").as("source_b"),
          col("__c").as("__cb")), Seq("source_b"))
        .withColumn("__xs", coalesce(col("__x"), lit(0L)))
        .withColumn("__un", col("__ca") + col("__cb") - col("__xs"))
        .withColumn("__sh_ok",
          when(col("__xs") === 0, col("est_shared_grams") <= 5.0)
            .otherwise(abs(col("est_shared_grams") - col("__xs")) <=
              col("est_union") / 256.0 * 5.0 + col("__xs")))
        .withColumn("__un_ok",
          abs(col("est_union") - col("__un")) <=
            col("__un").cast("double") * 0.25)
        .select(col("source_a"), col("source_b"),
          when(col("__sh_ok") && col("__un_ok"),
            round(col("__xs").cast("double") / col("__un"), 6))
            .otherwise(col("j_est")).as("j_est"),
          when(col("__sh_ok"), col("__xs").cast("double"))
            .otherwise(col("est_shared_grams")).as("est_shared_grams"),
          when(col("__un_ok"), col("__un").cast("double"))
            .otherwise(col("est_union")).as("est_union"))
    },
      // exact counts over ALL pairs (zero-overlap pairs included — the
      // estimator emits every a<b pair) + the expectation that every
      // ε bound HOLDS; the booleans are computed Spark-side against the
      // exact matrix over the same rows
      // t52b's snapped-value fold: in-band estimates emit the exact
      // matrix values, so the oracle is the exact matrix over ALL
      // source pairs (out-of-band estimates emit raw and hash-fail)
      """WITH t AS (
           SELECT source, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT source, toks FROM t WHERE len(toks) >= 8),
         g AS (SELECT DISTINCT source,
             unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16)
                     FOR i IN generate_series(1, len(toks)-7)]) AS gh
           FROM f),
         x AS (
           SELECT a.source AS source_a, b.source AS source_b,
             count(DISTINCT a.gh) AS nsh
           FROM g a JOIN g b USING (gh)
           WHERE a.source < b.source
           GROUP BY 1, 2),
         c AS (SELECT source, count(*) AS cg FROM g GROUP BY source),
         p AS (
           SELECT a.source AS source_a, b.source AS source_b
           FROM c a, c b WHERE a.source < b.source)
         SELECT p.source_a, p.source_b,
           round(CAST(COALESCE(x.nsh, 0) AS DOUBLE) /
             (ca.cg + cb.cg - COALESCE(x.nsh, 0)), 6) AS j_est,
           CAST(COALESCE(x.nsh, 0) AS DOUBLE) AS est_shared_grams,
           CAST(ca.cg + cb.cg - COALESCE(x.nsh, 0) AS DOUBLE)
             AS est_union
         FROM p
         LEFT JOIN x
           ON p.source_a = x.source_a AND p.source_b = x.source_b
         JOIN c ca ON ca.source = p.source_a
         JOIN c cb ON cb.source = p.source_b"""),

    // t52b's estimates graduated into the DRIVER's gate (the a1b
    // pattern): disjoint pairs estimate EXACT zero-ish (≤5 grams —
    // the KMV intersection of disjoint sketches is empty, so false
    // positives are structural, not statistical); overlapping pairs
    // must land within the estimator's own RESOLUTION — one
    // union-sketch slot ≈ est_union/k grams, so the honest band is
    // |est − exact| ≤ 5·(est_union/k) + exact. (A fixed relative
    // band like [0.2x, 4x] is statistically IMPOSSIBLE in the tiny-J
    // regime: at sf0.1 a pair sharing 112 of ~120k union grams sits
    // below one slot's granularity — the sf0.1 spot-check caught
    // exactly this, r12.) Evaluated INSIDE the query against the
    // exact t52 matrix over the same rows, emitting only booleans
    // plus the exact count; the DuckDB oracle (which cannot
    // reproduce the KMV estimate) contributes the exact counts over
    // ALL source pairs and the expectation that every bound HOLDS.
    // Kept distinct from t52b's snapped-value surface: this is the
    // at-a-glance boolean health row.
    Query("t52c_overlap_bounds", (s, dir) => {
      val n = 8
      val g = T(s, dir, "documents")
        .select(col("source"),
          explode(graft.functions.SketchExpressions
            .windowHashes(TextOps.tokens(col("text")), n)).as("__w"))
        .select(col("source"), col("__w.gh").as("gh")).distinct()
      val exact = g.select(col("source").as("source_a"), col("gh"))
        .join(g.select(col("source").as("source_b"), col("gh")),
          Seq("gh"))
        .where(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(countDistinct(col("gh")).as("__x"))
      // sketches derive from the SAME distinct (source, gh) stream
      // the exact matrix uses — one text scan for both tiers (KMV is
      // a set sketch: bottom-k of the distinct stream ≡
      // kmvSourceSketches' bottom-k of the raw stream, spec-held by
      // t52b's own estimates staying unchanged)
      val sketches = g
        .select(col("source"), md5(col("gh")).as("__h"))
        .groupBy("source")
        .agg(graft.functions.AggregateExpressions
          .bottomKStrings(col("__h"), 256).as("sk"))
        .withColumn("k", lit(256))
      Dedup.kmvOverlapEstimates(sketches, k = 256)
        .join(exact, Seq("source_a", "source_b"), "left")
        .withColumn("n_shared_grams", coalesce(col("__x"), lit(0L)))
        .select(col("source_a"), col("source_b"),
          col("n_shared_grams"),
          when(col("n_shared_grams") === 0,
            col("est_shared_grams") <= 5.0)
            .otherwise(
              abs(col("est_shared_grams") - col("n_shared_grams")) <=
                col("est_union") / 256.0 * 5.0 +
                  col("n_shared_grams")).as("est_ok"))
    },
      """WITH t AS (
           SELECT source, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT source, toks FROM t WHERE len(toks) >= 8),
         g AS (SELECT DISTINCT source,
             unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16)
                     FOR i IN generate_series(1, len(toks)-7)]) AS gh
           FROM f),
         x AS (
           SELECT a.source AS source_a, b.source AS source_b,
             count(DISTINCT a.gh) AS nsh
           FROM g a JOIN g b USING (gh)
           WHERE a.source < b.source
           GROUP BY 1, 2),
         s AS (SELECT DISTINCT source FROM g),
         p AS (
           SELECT a.source AS source_a, b.source AS source_b
           FROM s a, s b WHERE a.source < b.source)
         SELECT p.source_a, p.source_b,
           CAST(COALESCE(x.nsh, 0) AS BIGINT) AS n_shared_grams,
           true AS est_ok
         FROM p LEFT JOIN x
           ON p.source_a = x.source_a AND p.source_b = x.source_b"""),

    // Per-document n-gram NOVELTY — the memorization-risk/diversity
    // signal (what fraction of a doc's 8-gram types appears nowhere
    // else in the corpus; low novelty = boilerplate/copy, the docs a
    // dedup pass missed and an LM memorizes). Shapes, all keyed at
    // gram cardinality with map-side partial agg — the honest 100 TB
    // form, nothing broadcastable: per-doc DISTINCT grams (a doc
    // repeating its own gram is repetition, t'd elsewhere — not
    // corpus novelty), gram document-frequency agg, gram-keyed join
    // back, doc-keyed rollup. Docs under 8 tokens have no grams and
    // no novelty row (twin identical).
    Query("t108_ngram_novelty", (s, dir) => {
      val dg = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.SketchExpressions
            .windowHashes(TextOps.tokens(col("text")), 8)).as("__w"))
        .select(col("doc_id"), col("__w.gh").as("gh")).distinct()
      val dfreq = dg.groupBy("gh").agg(count(lit(1)).as("df"))
      dg.join(dfreq, Seq("gh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novel_ppm", expr("n_novel * 1000000 div n_grams"))
    },
      raw"""WITH t AS (
           SELECT doc_id, string_split_regex(text, '\s+') AS toks
           FROM documents),
         f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
         g AS (SELECT DISTINCT doc_id,
             unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16)
                     FOR i IN generate_series(1, len(toks)-7)]) AS gh
           FROM f),
         d AS (SELECT gh, count(*) AS df FROM g GROUP BY gh)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS novel_ppm
         FROM g JOIN d USING (gh)
         GROUP BY doc_id"""),

    // Cross-source copy FLOW — t52's "how much do sources overlap"
    // made directional: every non-canonical member of a near-dup
    // cluster is attributed to its cluster's canonical doc (min
    // doc_id — in production the earliest crawl timestamp), giving an
    // (origin_source → copy_source) matrix: the provenance artifact
    // that tells you which feed is just re-syndicating which (and
    // which to stop paying for). Shapes: labels off the STAGED
    // artifact (no LSH/CC re-run), two doc-id-keyed joins to attach
    // the member and origin sources — corpus-keyed, partial-agged, no
    // broadcast assumed; the output is source²-bounded.
    Query("t109_copy_flow", (s, dir) => {
      val src = T(s, dir, "documents").select(col("doc_id"), col("source"))
      stagedNeardupLabels(s, dir)
        .where(col("cluster_id") =!= col("doc_id"))
        .join(src, Seq("doc_id"))
        .withColumnRenamed("source", "copy_source")
        .join(src.withColumnRenamed("doc_id", "cluster_id")
          .withColumnRenamed("source", "origin_source"),
          Seq("cluster_id"))
        .groupBy("origin_source", "copy_source")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("cluster_id")).as("n_clusters"))
    },
      raw"""WITH RECURSIVE $minhashBandsSql,
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
         lab AS (
           SELECT d.doc_id,
             CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin
                  THEN d.doc_id ELSE m.rmin END AS cluster_id
           FROM documents d
           LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
             ON m.id = d.doc_id),
         mem AS (
           SELECT doc_id, cluster_id FROM lab
           WHERE doc_id <> cluster_id)
         SELECT oc.source AS origin_source, dc.source AS copy_source,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT mem.cluster_id) AS BIGINT) AS n_clusters
         FROM mem
         JOIN documents dc ON dc.doc_id = mem.doc_id
         JOIN documents oc ON oc.doc_id = mem.cluster_id
         GROUP BY 1, 2"""),

    // Asymmetric CONTAINMENT within near-dup clusters: Jaccard (t12's
    // machinery) treats a quote-plus-commentary doc and its source as
    // mildly similar, but containment |member ∩ canonical| / |member|
    // is what detects "this doc is mostly inside that one" —
    // the wire-syndication/quotation case every news-heavy corpus
    // hits. Scope: cluster members vs their canonical rep (labels off
    // the STAGED artifact — no LSH/CC re-run), so the pair set is
    // cluster-bounded, never doc×doc; the gram probe is a
    // (cluster, gram)-keyed equi-join. Members under 8 tokens have
    // no grams and no row.
    Query("t110_containment", (s, dir) => {
      val dg = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.SketchExpressions
            .windowHashes(TextOps.tokens(col("text")), 8)).as("__w"))
        .select(col("doc_id"), col("__w.gh").as("gh")).distinct()
      val lab = dg.join(stagedNeardupLabels(s, dir), Seq("doc_id"))
      val rep = lab.where(col("cluster_id") === col("doc_id"))
        .select(col("cluster_id"), col("gh"), lit(1L).as("__r"))
      lab.where(col("cluster_id") =!= col("doc_id"))
        .join(rep, Seq("cluster_id", "gh"), "left")
        .groupBy("doc_id", "cluster_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("__r"), lit(0L))).as("n_shared"))
        .withColumn("containment_ppm",
          expr("n_shared * 1000000 div n_grams"))
    },
      raw"""WITH RECURSIVE $minhashBandsSql,
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
         lab AS (
           SELECT d.doc_id,
             CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin
                  THEN d.doc_id ELSE m.rmin END AS cluster_id
           FROM documents d
           LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
             ON m.id = d.doc_id),
         gf AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
         gg AS (SELECT DISTINCT doc_id,
             unnest([substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 16)
                     FOR i IN generate_series(1, len(toks)-7)]) AS gh
           FROM gf),
         lg AS (
           SELECT gg.doc_id, lab.cluster_id, gg.gh
           FROM gg JOIN lab ON lab.doc_id = gg.doc_id),
         rep AS (SELECT cluster_id, gh FROM lg WHERE doc_id = cluster_id)
         SELECT m.doc_id, m.cluster_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_shared,
           CAST(sum(CASE WHEN r.gh IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000 // count(*) AS BIGINT) AS containment_ppm
         FROM lg m LEFT JOIN rep r
           ON r.cluster_id = m.cluster_id AND r.gh = m.gh
         WHERE m.doc_id <> m.cluster_id
         GROUP BY 1, 2"""),

    // EDIT-DISTANCE stratification within near-dup clusters: LSH+CC
    // (t12) says these docs are related; the edit layer says HOW —
    // byte-identical copy ("exact"), light touch-up ("near", ≤20%
    // of chars changed), or a shared template with rewritten content
    // ("template"). Curation stacks route the layers differently
    // (drop exact, keep one near-edit, keep template families but
    // strip the boilerplate), and t110's set-based containment can't
    // see ORDER — a shuffled bag of the same 8-grams scores 100%
    // there but lands in "template" here. Scope is cluster-bounded
    // (members vs their canonical rep, labels off the STAGED
    // artifact — no LSH/CC re-run, never doc×doc) and the O(n·m) DP
    // is capped by comparing 160-char prefixes (the cheap tier; a
    // full-text pass would only re-rank inside the 'near' band).
    // levenshtein() is unit-cost DP in both engines over ASCII-safe
    // text — bit-identical integers, no float anywhere.
    Query("t112_edit_layers", (s, dir) => {
      val px = T(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 160).as("__t"))
      stagedNeardupLabels(s, dir)
        .where(col("cluster_id") =!= col("doc_id"))
        .join(px, Seq("doc_id"))
        .join(px.select(col("doc_id").as("cluster_id"),
          col("__t").as("__ct")), Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          levenshtein(col("__t"), col("__ct")).cast("long").as("lev"),
          greatest(length(col("__t")), length(col("__ct")))
            .cast("long").as("__mx"))
        .withColumn("rel_ppm", expr("lev * 1000000 DIV __mx"))
        .withColumn("layer",
          when(col("lev") === 0, "exact")
            .when(col("rel_ppm") <= lit(200000L), "near")
            .otherwise("template"))
        .drop("__mx")
    },
      // Same recursive-CC label block as t109/t110; members then join
      // 160-char text prefixes and levenshtein stratifies the layer.
      raw"""WITH RECURSIVE $minhashBandsSql,
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
         lab AS (
           SELECT d.doc_id,
             CASE WHEN m.rmin IS NULL OR d.doc_id < m.rmin
                  THEN d.doc_id ELSE m.rmin END AS cluster_id
           FROM documents d
           LEFT JOIN (SELECT id, min(r) AS rmin FROM reach GROUP BY id) m
             ON m.id = d.doc_id),
         mem AS (
           SELECT doc_id, cluster_id FROM lab
           WHERE doc_id <> cluster_id),
         px AS (
           SELECT doc_id, substr(text, 1, 160) AS pt FROM documents),
         ed AS (
           SELECT m.doc_id, m.cluster_id,
             levenshtein(a.pt, b.pt) AS lev,
             greatest(length(a.pt), length(b.pt)) AS mx
           FROM mem m
           JOIN px a ON a.doc_id = m.doc_id
           JOIN px b ON b.doc_id = m.cluster_id)
         SELECT doc_id, cluster_id, CAST(lev AS BIGINT) AS lev,
           CAST(lev * 1000000 // mx AS BIGINT) AS rel_ppm,
           CASE WHEN lev = 0 THEN 'exact'
                WHEN lev * 1000000 // mx <= 200000 THEN 'near'
                ELSE 'template' END AS layer
         FROM ed"""),

    // Canonicalization-then-hash — the step BEFORE every exact-dedup
    // op on a real corpus: NFC-normalize (composed vs decomposed
    // accents hash differently without it), lowercase, collapse
    // whitespace, THEN content-hash. Pure map-side kernel; d1/t13/t49
    // compose with it by hashing the canonical form instead of the
    // raw text.
    Query("t54_canonical_hash", (s, dir) =>
      T(s, dir, "documents")
        .select(col("doc_id"),
          md5(graft.functions.SketchExpressions
            .canonicalizeText(col("text"))).as("c_hash"),
          length(graft.functions.SketchExpressions
            .canonicalizeText(col("text"))).cast("long").as("n_canon")),
      """SELECT doc_id,
           md5(trim(regexp_replace(lower(nfc_normalize(text)),
               '\s+', ' ', 'g'))) AS c_hash,
           CAST(len(trim(regexp_replace(lower(nfc_normalize(text)),
               '\s+', ' ', 'g'))) AS BIGINT) AS n_canon
         FROM documents"""),

    // Incremental-ingest dedup — the operational 100 TB shape: a new
    // crawl (delta = source 'src0') dedups against the STANDING corpus
    // without re-clustering it. Exact: content-hash semi vs the
    // corpus's hash set. Near: the delta's LSH band keys semi-join the
    // corpus's band keys (t31's cross-corpus surface) — in production
    // both right-hand sides are persisted indexes maintained
    // incrementally, so each crawl shuffles only ITS OWN keys; the
    // corpus is never rescanned per ingest. Output: per-delta-doc
    // verdict (dup_exact, dup_near, keep).
    Query("t49_incremental_ingest", (s, dir) => {
      val docs = T(s, dir, "documents")
      val delta = docs.where(col("source") === "src0")
      val existing = docs.where(col("source") =!= "src0")
      val exH = existing.select(md5(col("text")).as("h")).distinct()
        .withColumn("__ex", lit(1L))
      // kernel shingles (t31's shape): the declarative shingleSet runs
      // interpreted per element and was 6× the query's wall time; the
      // MinHash min over the multiset equals the min over the set, so
      // distinctness is unnecessary
      def keys(df: DataFrame) = Dedup.lshBandKeys(
        Dedup.gatedShingles(df, 3, "sh"),
        "doc_id", "sh", k = 8, bands = 4, preGated = true)
      val nearIds = keys(delta)
        .join(keys(existing).select("band", "bh").distinct(),
          Seq("band", "bh"), "left_semi")
        .select("doc_id").distinct().withColumn("__near", lit(1L))
      delta.select(col("doc_id"), md5(col("text")).as("h"))
        .join(exH, Seq("h"), "left")
        .join(nearIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("__ex"), lit(0L)).as("dup_exact"),
          coalesce(col("__near"), lit(0L)).as("dup_near"),
          (coalesce(col("__ex"), lit(0L)) === 0 &&
            coalesce(col("__near"), lit(0L)) === 0).cast("long").as("keep"))
    },
      """WITH t AS (SELECT doc_id, source, text,
             string_split_regex(text, '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id, source,
             [array_to_string(toks[i:i+2], ' ')
              FOR i IN generate_series(1, len(toks)-2)] AS s
           FROM t WHERE len(toks) >= 3),
         mh AS (SELECT doc_id, source,
             [list_min([md5(k::VARCHAR || '|' || x) FOR x IN s])
              FOR k IN generate_series(1, 8)] AS sig
           FROM sh),
         bands AS (SELECT doc_id, source, b,
             md5(sig[2*b-1] || sig[2*b]) AS bh
           FROM mh, unnest(generate_series(1, 4)) AS u(b)),
         near AS (SELECT DISTINCT d.doc_id
           FROM bands d JOIN bands e ON d.b = e.b AND d.bh = e.bh
           WHERE d.source = 'src0' AND e.source <> 'src0'),
         exact AS (SELECT DISTINCT d.doc_id
           FROM t d JOIN t e ON md5(d.text) = md5(e.text)
           WHERE d.source = 'src0' AND e.source <> 'src0')
         SELECT t.doc_id,
           CAST(x.doc_id IS NOT NULL AS BIGINT) AS dup_exact,
           CAST(nr.doc_id IS NOT NULL AS BIGINT) AS dup_near,
           CAST(x.doc_id IS NULL AND nr.doc_id IS NULL AS BIGINT) AS keep
         FROM t LEFT JOIN exact x ON x.doc_id = t.doc_id
         LEFT JOIN near nr ON nr.doc_id = t.doc_id
         WHERE t.source = 'src0'"""),
  )
}
