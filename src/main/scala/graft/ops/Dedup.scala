package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: MinHash
  * signatures, LSH banding, SimHash, and Jaccard verification.
  *
  * Design for 100 TB: the candidate-pair generation is the classic
  * shingle → minhash → band → bucket-join pipeline. Each document is
  * reduced map-side to a k-hash signature (no shuffle), then only
  * (band, bucket-hash) keys shuffle — collisions, not the corpus,
  * drive the join fan-out. Hashes are md5-hex (lexicographic min), so
  * signatures are engine-portable and need no private seed state.
  */
object Dedup {

  /** Round count of the most recent `connectedComponents` fixpoint on
    * this JVM (-1 while one is in flight). Observability for the
    * sf-scaling smokes: pointer-jumping must converge in ~log2(graph
    * diameter) rounds, so a scale-up that inflates this number flags a
    * pathological candidate graph long before wall time does. Driver-
    * side diagnostic only — never read by query logic. */
  @volatile var lastCcIterations: Int = -1

  /** MinHash signature: k independent permutations simulated by salting
    * md5 with the hash index; the signature element is the lexicographic
    * min over the document's shingles.
    *
    * Single-pass formulation: per shingle, emit its k salted hashes;
    * fold with element-wise `least`. The shingles expression is
    * referenced ONCE — the naive `transform(seeds, s => array_min(...))`
    * inlines (and recomputes) the shingling k times, since Spark does no
    * CSE inside lambda bodies. Empty input yields null (filter first). */
  def minhashSignature(shingles: Column, k: Int): Column =
    aggregate(
      transform(shingles, x => transform(sequence(lit(1), lit(k)),
        s => md5(concat(s.cast("string"), lit("|"), x)))),
      lit(null).cast("array<string>"),
      (acc, h) => when(acc.isNull, h)
        .otherwise(zip_with(acc, h, (a, b) => least(a, b))))

  /** Explode a signature into `bands` LSH bands of `rowsPerBand` hashes;
    * returns (bandCol, bucketHashCol) pairs as a single exploded struct
    * column named `__band`. */
  private def bandStructs(sig: Column, bands: Int, rowsPerBand: Int): Column =
    explode(transform(sequence(lit(1), lit(bands)), b =>
      struct(b.as("band"),
        md5(concat_ws("",
          slice(sig, (b - lit(1)) * rowsPerBand + 1,
            lit(rowsPerBand)))).as("bh"))))

  /** Candidate near-duplicate pairs via MinHash+LSH. Input must have
    * `idCol` and a shingles array column `shinglesCol` (empty-shingle
    * docs are excluded). Output: (id_a, id_b) with id_a < id_b, distinct.
    *
    * One shuffle: docs group by (band, bucket), pairs are generated
    * INSIDE each bucket from the collected id list — no self-join, so the
    * signature pipeline is evaluated once, not once per join branch.
    * `maxBucket` caps degenerate buckets (boilerplate that collides
    * everywhere would otherwise go quadratic); capped buckets are dropped,
    * which at scale should be logged as reduced recall. */
  def lshCandidatePairs(df: DataFrame, idCol: String, shinglesCol: String,
                        k: Int = 8, bands: Int = 4,
                        maxBucket: Int = 10000,
                        preGated: Boolean = false): DataFrame = {
    val banded = bandedKeys(df, idCol, shinglesCol, k, bands, preGated)
    inBucketPairs(banded.groupBy("__b", "__h")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket)))
      .distinct()
  }

  /** The shared signature→band front of the three LSH surfaces —
    * ONE definition (exclude empty-shingle docs, k-hash signature,
    * band structs), so a banding change cannot leave one surface on
    * a stale scheme. Output: (idCol, __b, __h).
    *
    * `preGated = true` declares the caller ALREADY excludes
    * empty/null-shingle rows (e.g. `gatedShingles`, or a materialized
    * gated frame), skipping the internal size gate. The gate is
    * value-critical when rows can be empty — signatures of empty sets
    * would band every empty doc together — but when `shinglesCol` is
    * a LIVE projection, predicate pushdown inlines the shingle kernel
    * into the gate's Filter and re-evaluates it per row (measured in
    * the r20 plans: +1 kernel eval/scan on t2/t35/t85/t31/t58/t20),
    * so pre-gated callers must be able to opt out (`gatedShingles`
    * gates on the token count instead). */
  private def bandedKeys(df: DataFrame, idCol: String,
                         shinglesCol: String, k: Int,
                         bands: Int,
                         preGated: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must divide into bands evenly")
    (if (preGated) df else df.where(size(col(shinglesCol)) > 0))
      .select(col(idCol),
        graft.functions.SketchExpressions
          .minhashSig(col(shinglesCol), k).as("__sig"))
      .select(col(idCol),
        bandStructs(col("__sig"), bands, k / bands).as("__band"))
      .select(col(idCol), col("__band.band").as("__b"),
        col("__band.bh").as("__h"))
  }

  /** In-bucket pair generation over a sorted `ids` array column —
    * the quadratic explode shared by the MinHash and SRP candidate
    * surfaces (id_a < id_b by the sort). */
  private def inBucketPairs(buckets: DataFrame): DataFrame = {
    val ids = col("ids")
    buckets.select(explode(flatten(transform(
        sequence(lit(1), size(ids) - 1),
        i => transform(slice(ids, i + 1, size(ids)),
          y => struct(element_at(ids, i).as("id_a"), y.as("id_b"))))))
        .as("p"))
      .select("p.id_a", "p.id_b")
  }

  /** (id, band, bucket-hash) keys for every document — the join surface
    * of LSH. Exposed for cross-corpus shapes (fuzzy decontamination:
    * a training doc is suspect iff it shares ANY band bucket with a
    * held-out doc — a semi-join on these keys, never a pair explosion).
    * Empty-shingle docs are excluded, as in `lshCandidatePairs`. */
  def lshBandKeys(df: DataFrame, idCol: String, shinglesCol: String,
                  k: Int = 8, bands: Int = 4,
                  preGated: Boolean = false): DataFrame =
    bandedKeys(df, idCol, shinglesCol, k, bands, preGated)
      .withColumnRenamed("__b", "band").withColumnRenamed("__h", "bh")

  /** Star edges for duplicate CLUSTERING: each LSH bucket contributes
    * (bucket-min-id → member-id) edges instead of the full member×member
    * clique. Co-bucket connectivity is preserved exactly — every member
    * reaches every other member through the bucket's min id — so
    * connected components over star edges EQUAL components over
    * `lshCandidatePairs` (spec-asserted), while a b-member bucket emits
    * b−1 edges, not b(b−1)/2. That removes both the quadratic explode
    * and the need for a `maxBucket` recall cap: a boilerplate bucket
    * with 10⁶ members is 10⁶ edges — linear, shippable at 100 TB —
    * where the clique form is 5·10¹¹ pairs. Use `lshCandidatePairs`
    * only when the pairs themselves are the product (Jaccard verify);
    * use this for clustering. */
  def lshStarEdges(df: DataFrame, idCol: String, shinglesCol: String,
                   k: Int = 8, bands: Int = 4): DataFrame = {
    bandedKeys(df, idCol, shinglesCol, k, bands)
      .groupBy("__b", "__h")
      .agg(min(col(idCol)).as("id_a"),
        collect_list(col(idCol)).as("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .distinct()
  }

  /** Embedding-cosine near-dup candidate pairs via SRP-LSH: each vector
    * maps to one sign-random-projection bucket (map-side, no model
    * state), pairs are generated INSIDE buckets from the sorted id list
    * — same one-shuffle shape as `lshCandidatePairs`, and unique by
    * construction (one bucket per id), so no distinct pass. Cosine
    * verification (≥ τ) is the caller's join, mirroring the
    * Jaccard-verify step of the text pipeline. Recall is governed by
    * `planes`; capped buckets drop (log as reduced recall at scale). */
  def srpCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
                        dims: Int, planes: Int,
                        maxBucket: Int = 10000): DataFrame =
    inBucketPairs(df.select(col(idCol),
        Vectors.srpBucket(col(vecCol), dims, planes).as("__bkt"))
      .groupBy("__bkt")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")).between(2, maxBucket)))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup in
    * embedding space. The published insight: cluster FIRST (k-means /
    * IVF coarse cells), then pay pairwise cosine only WITHIN clusters —
    * the quadratic term is bounded by cluster size, never the corpus.
    * Keep rule: drop a vector iff some same-cluster vector with a
    * SMALLER id has cosine ≥ τ — a deterministic variant of the
    * paper's one-representative-per-ε-ball choice (same keep-min
    * convention as the text pipeline's `lshCandidatePairs` consumers).
    * Returns kept (id, cid). Assignment is the map-side broadcast
    * argmin (`Vectors.ivfAssignWithVec`), MATERIALIZED once (lazy
    * localCheckpoint — the same idiom as `connectedComponents`' edge
    * list) because three consumers read it: both pair-join sides and
    * the final anti-join. Data-sized shuffles: the cid-keyed pair
    * join, plus the id-keyed anti-join when the dropped set is too
    * big to broadcast (dup-sized, so usually broadcast). At 100 TB,
    * cluster-size skew is the knob: more centroids → smaller cells →
    * less in-cell pairing. */
  def semDedupKeep(corpus: DataFrame, centroids: DataFrame,
                   idCol: String, cidCol: String, vecCol: String,
                   tau: Double, k: Long = 0L,
                   dims: Int = -1): DataFrame =
    semDedupKeepWithVec(corpus, centroids, idCol, cidCol, vecCol, tau,
      k, dims)
      .drop(vecCol)

  /** `semDedupKeep` with the vector retained in the output — what a
    * sink-building consumer (`Streaming.semDedupStream`) needs, saving
    * it an id-keyed join back to the input per batch. `k` is the cell
    * count the caller sized the index with: at or above
    * `Vectors.HierarchicalFloor` the assignment routes through the
    * two-level quantizer (the default 0 keeps the exact flat scan —
    * every gate-SF corpus sits below the floor anyway). */
  def semDedupKeepWithVec(corpus: DataFrame, centroids: DataFrame,
                          idCol: String, cidCol: String, vecCol: String,
                          tau: Double, k: Long = 0L,
                          dims: Int = -1): DataFrame = {
    val asg = Vectors.ivfAssignWithVecScaled(corpus, centroids, k, idCol,
      cidCol, vecCol, dims).localCheckpoint(false)
    val a = asg.select(col(cidCol), col(idCol).as("__ida"),
      col(vecCol).as("__va"))
    val b = asg.select(col(cidCol), col(idCol).as("__idb"),
      col(vecCol).as("__vb"))
    // a zero-norm vector (encoder failure) has cosine 0/0 = NaN to
    // EVERY partner, and Spark's ordering semantics make NaN >= tau
    // TRUE — one such vector with a small id would silently drop its
    // whole cluster. NaN is "no similarity evidence": never a drop.
    val __cos = Vectors.cosine(col("__va"), col("__vb"))
    val dropped = a.join(b, Seq(cidCol))
      .where(col("__idb") < col("__ida") &&
        !isnan(__cos) && __cos >= tau)
      .select(col("__ida").as(idCol)).distinct()
    asg.join(dropped, Seq(idCol), "left_anti")
  }

  /** Connected components over an undirected edge list — the clustering
    * step of near-duplicate dedup (candidate pairs → duplicate CLUSTERS
    * → keep one doc per cluster). Without it, pairwise decisions drop
    * only one side of each pair and a chain A~B~C keeps both A and C.
    *
    * Iterative min-label propagation with a pointer-jumping hop
    * (label := label's label) each round, which doubles the effective
    * propagation distance: convergence in O(log diameter) rounds, each a
    * bounded shuffle on the EDGE table — never the corpus. The edge list
    * is materialized once (`localCheckpoint`) so the upstream candidate
    * pipeline runs exactly once, and each round's labels checkpoint to
    * truncate the growing lineage — the same iterative-fixpoint idiom as
    * `Vectors.kmeans`. Driver-side coordination is only the per-round
    * convergence probe on a 1-row checksum (labels decrease
    * monotonically, so an unchanged sum is a fixpoint), never data-sized.
    *
    * Returns (id, label): every node appearing in an edge, labeled with
    * its component's minimum node id. Nodes absent from every edge are
    * their own singleton cluster — callers left-join and coalesce. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20, strict: Boolean = false): DataFrame = {
    lastCcIterations = -1
    // ids must already be integral: the long cast below would turn a
    // string id (UUID/hex keys) into NULL, the label table would come
    // out empty, and every caller's coalesce(label, id) would silently
    // report ALL-SINGLETON clusters — dedup quietly no-ops. Hash such
    // keys to longs (xxhash64) before clustering.
    locally {
      import org.apache.spark.sql.types._
      val ok = Seq(ByteType, ShortType, IntegerType, LongType)
      Seq(aCol, bCol).foreach { c =>
        val t = edges.schema(c).dataType
        require(ok.contains(t),
          s"connectedComponents: edge column '$c' is $t — node ids " +
            "must be integral (a failed long cast would silently " +
            "label every doc a singleton); hash string ids first")
      }
    }
    val a = col(aCol).cast("long"); val b = col(bCol).cast("long")
    // LAZY local checkpoints throughout: the checkpoint still truncates
    // lineage (the iterative-fixpoint requirement) but is materialized
    // by the round's checksum action instead of an extra eager job —
    // one job per round, not two. sym materializes transitively with
    // the first labels checksum.
    val sym = edges.select(a.as("src"), b.as("dst"))
      .union(edges.select(b.as("src"), a.as("dst")))
      .localCheckpoint(eager = false)
    var labels = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("label"))
      .localCheckpoint(eager = false)
    // Labels decrease monotonically, so an unchanged sum is an exact
    // fixpoint test — but summed as decimal(38,0): a raw BIGINT sum
    // overflows (ANSI: throws mid-iteration) once node ids are in the
    // xxhash64/snowflake range at corpus scale.
    def checksum(l: DataFrame): java.math.BigDecimal =
      Option(l.agg(sum(col("label").cast("decimal(38,0)"))).head.get(0))
        .map(_.asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO)
    var sumPrev = checksum(labels)
    var converged = labels.isEmpty
    var it = 0
    while (!converged && it < maxIter) {
      // propagate: each node adopts the min label among its neighbors
      val nbr = sym
        .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("label").as("__nl"))
      val prop = labels.join(nbr, Seq("id"))
        .select(col("id"), least(col("label"), col("__nl")).as("label"))
      // hop: follow the label pointer one step (path doubling)
      val next = prop
        .join(prop.select(col("id").as("__jid"), col("label").as("__jl")),
          prop("label") === col("__jid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__jl"), col("label")))
            .as("label"))
        .localCheckpoint(eager = false)
      val sumNext = checksum(next)
      converged = sumNext.compareTo(sumPrev) == 0
      sumPrev = sumNext
      labels = next
      it += 1
    }
    // Unconverged labels are WRONG (chains longer than the propagation
    // reach split one component into several) — surface it, mirroring
    // how capped LSH buckets are documented as reduced recall. Dedup
    // pipelines where a split component means silently-kept duplicates
    // (i.e. data corruption, not reduced recall) pass strict=true to
    // fail the job instead.
    if (!converged) {
      val msg =
        s"connectedComponents: not converged after $maxIter iterations; " +
          "returned labels may split components. Raise maxIter " +
          "(pointer-jumping needs ~log2(graph diameter) rounds)."
      if (strict) throw new IllegalStateException(msg)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    lastCcIterations = it
    labels
  }

  /** The shared near-dup CLUSTERING pipeline: star edges over LSH
    * co-buckets → connected components → one label per input document
    * (singletons and empty-shingle docs label themselves). Returns
    * (idCol, cluster_id) with cluster_id = the component's minimum id.
    *
    * This is the single code path behind every cluster consumer
    * (keep-min dedup, quality-aware keep-best, per-source dup rate):
    * they differ only in what they aggregate over the labels, never in
    * how labels are derived. **Materialize-once contract for
    * production:** at corpus scale, run this ONCE per corpus snapshot,
    * persist the (id, cluster_id) table (it is corpus-cardinality but
    * two narrow columns), and point all downstream consumers at the
    * materialized table — re-deriving labels per consumer repeats the
    * shingle/signature scan and the CC fixpoint for identical output. */
  def clusterLabels(docs: DataFrame, idCol: String, shinglesCol: String,
                    k: Int = 8, bands: Int = 4,
                    maxIter: Int = 20, strict: Boolean = false): DataFrame = {
    val edges = lshStarEdges(docs, idCol, shinglesCol, k, bands)
    val cc = connectedComponents(edges, "id_a", "id_b", maxIter, strict)
    docs.select(col(idCol))
      .join(cc.select(col("id").as(idCol), col("label")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /** Per-source KMV sketches of the token-window-gram stream: one text
    * pass, O(k) mergeable state per source (`BottomKStringsAgg`), no
    * corpus-wide distinct. The (source, sketch) table this returns is
    * the standing artifact of provenance-overlap analysis — cheap to
    * persist, trivially mergeable with later deltas (KMV is a pure SET
    * sketch: re-aggregating the union of two sketches' elements IS the
    * sketch of the union, idempotent under replays). Consumed by
    * `kmvOverlapEstimates` (batch t52b) and the streaming standing-
    * sketch maintainer (`Streaming.sourceSketchStream`). */
  def kmvSourceSketches(docs: DataFrame, textCol: String,
                        sourceCol: String, n: Int = 8,
                        k: Int = 256): DataFrame =
    docs
      .select(col(sourceCol).as("source"),
        explode(graft.functions.SketchExpressions
          .windowHashes(TextOps.tokens(col(textCol)), n)).as("__w"))
      .select(col("source"), md5(col("__w.gh").cast("string")).as("__h"))
      .groupBy("source")
      .agg(graft.functions.AggregateExpressions
        .bottomKStrings(col("__h"), k).as("sk"))
      // k travels WITH the sketch: estimates derived under a different
      // k are silently wrong (see kmvOverlapEstimates' guard), and a
      // persisted sketch table outlives the code that built it
      .withColumn("k", lit(k))

  /** Pairwise overlap estimates from per-source KMV sketches, derived
    * declaratively from the k-minimum values: with U = the k smallest
    * distinct hashes of A∪B (lexicographic = numeric for fixed-width
    * hex), J ≈ |U∩A∩B|/|U|, |A∪B| ≈ (k−1)/F(h_k) (13 hex chars = 52
    * bits, exact in a double), shared ≈ J·|A∪B|. The sketch table is
    * sources-sized: the pair join is a broadcast nested loop over a
    * tiny side, never corpus data. Deterministic given the input set
    * (seedless md5) but approximate — ε contract in PropertySpec. */
  def kmvOverlapEstimates(sketches: DataFrame, k: Int): DataFrame = {
    val a = sketches.select(col("source").as("source_a"),
      col("sk").as("__ska"), col("k").as("__ka"))
    val b = sketches.select(col("source").as("source_b"),
      col("sk").as("__skb"), col("k").as("__kb"))
    val u = slice(array_sort(array_union(col("__ska"), col("__skb"))),
      1, k)
    val kU = size(u)
    val estU = when(kU < k, kU.cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(4503599627370496.0) /
        conv(substring(element_at(u, kU), 1, 13), 16, 10)
          .cast("double"))
    val j = size(array_intersect(array_intersect(u, col("__ska")),
      col("__skb"))).cast("double") / kU.cast("double")
    // k must MATCH the k the sketches were built with: a larger k
    // routes saturated pairs into the "exact union" branch (kU < k)
    // and underestimates by orders of magnitude — silently. The
    // builder stamps its k into the table precisely so this can
    // error instead of estimating wrong. (A smaller k would be a
    // valid DOWNGRADE — bottom-k' of bottom-k is exact for k' ≤ k —
    // but only if the arrays were re-sliced; this estimator uses the
    // full arrays, so strict equality is the contract.)
    val guard = assert_true(
      col("__ka") === k && col("__kb") === k,
      lit(s"kmvOverlapEstimates: sketch table built with a different " +
        s"k than $k — estimates would be silently wrong; rebuild the " +
        "sketches or estimate at their recorded k"))
    // the guard rides in BOTH output columns: column pruning must not
    // be able to drop the check (selecting j_est alone would otherwise
    // prune est_shared_grams and the assert with it)
    val g0 = coalesce(guard.cast("double"), lit(0.0))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (round(j, 6) + g0).as("j_est"),
        (round(j * estU, 2) + g0).as("est_shared_grams"),
        // the estimator's RESOLUTION rides along: one union-sketch
        // slot ≈ est_union/k grams — the granularity any downstream
        // ε gate must be stated in (t52c); also the honest answer to
        // "how big are these gram universes" that j alone hides
        (round(estU, 2) + g0).as("est_union"))
  }

  /** SimHash (32-bit, as a '0'/'1' bitstring): per bit position i, sum
    * +1/−1 votes from the i-th hex char of each token's md5; bit = 1 iff
    * the sum is positive. Near-duplicates agree on most bits (compare by
    * Hamming distance on the bitstrings). Map-side only, no shuffle. */
  def tokenHashes(toks: Column): Column = transform(toks, t => md5(t))

  /** Single-pass: one fold over the token hashes accumulating all 32
    * bit-votes element-wise (the per-bit formulation would re-evaluate
    * the hash array 32 times — no CSE inside lambdas). */
  def simhash32(hashes: Column): Column =
    concat_ws("", transform(
      aggregate(hashes, array_repeat(lit(0), 32),
        (acc, h) => zip_with(acc, sequence(lit(1), lit(32)),
          (a, i) => a + when(h.substr(i, lit(1)).between("8", "f"), 1)
            .otherwise(-1))),
      v => when(v > 0, "1").otherwise("0")))

  /** (`doc_id`, word `n`-shingles of `text` as `shinglesCol`) for the
    * documents with at least `n` tokens — exactly those whose shingle
    * set is non-empty (WordShinglesExpr: empty iff fewer than `n`
    * tokens, null iff tokens null), so the result may go to the LSH
    * surfaces with `preGated = true`. The gate and the shingle width
    * come from the one `n`. It filters on the cheap token count: a
    * `size(shingles) > 0` gate over the live projection lets pushdown
    * inline the shingle kernel into the filter, one more kernel
    * evaluation per scan (measured in the r20 plans). */
  def gatedShingles(df: DataFrame, n: Int, shinglesCol: String): DataFrame = {
    val tokens = TextOps.tokens(col("text"))
    df.where(size(tokens) >= n)
      .select(col("doc_id"), graft.functions.SketchExpressions
        .wordShingles(tokens, n).as(shinglesCol))
  }
}
