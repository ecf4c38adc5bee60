package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Stage
import graft.ops._
import Shared._

/** Vector and ANN queries over the embeddings table: exact top-k, IVF
  * (flat and two-level), PQ, SQ8, sign-bit quantization, bitext mining,
  * and the embedding-based near-dedup and recall measurements. */
object AnnQueries {

  /** Table row count from parquet FOOTER stats — the snapshot-
    * manifest lookup a production engine does (r14 verdict #6), not
    * a scan: one driver-side footer read per part-file (the same
    * metadata I/O class as planning the scan), memoized per corpus
    * snapshot so repeat executions in a session cost zero jobs.
    * t10/t62 size their SRP-plane / centroid counts from this;
    * previously each EXECUTION re-ran a full-scan `count()` job.
    * Falls back to `count()` for sources without readable footers. */
  private val rowCountMemo = new Stage.Memo[Long]
  /** t10's adaptive-banding density sweep, memoized per corpus
    * snapshot: the per-plane pair masses are a pure function of the
    * corpus bytes, so one probe job per snapshot serves every later
    * plan construction (bench pass 2, repeated runs). */
  private val srpPlanesMemo = new Stage.Memo[Int]

  /** Measured SRP plane sweep (r19, after the 1000× probe killed the
    * modeled single-shot correction): ONE ids-only histogram at
    * base+20 planes; since plane p's hyperplane depends only on p, a
    * bucket at q planes is a strict PREFIX of the bucket at q' > q,
    * so prefix rollups give the EXACT candidate pair mass at every
    * even step in [base, base+20]. Returns the smallest plane count
    * whose measured mass fits the 8·n budget, else base+20 (the cap
    * bounds the planted-pair recall give-back at ~1.4%/plane). No
    * decay model anywhere: observed mass decay on mixed corpora is
    * ~0.65×/plane — between the random 0.5 and the cos-0.93 near-dup
    * 0.88 — so any fixed model misprices one regime (the random
    * model under-corrected 7× at 1000× and filled the disk). */
  private[graft] def srpPlaneSweep(corpus: DataFrame, vecCol: String,
                                   basePlanes: Int,
                                   nCorpus: Long): Int = {
    val sweepCap = 20
    val budget = 8L * math.max(nCorpus, 1L)
    val masses = corpus
      .select(Vectors.srpBucket(col(vecCol), 64,
        basePlanes + sweepCap).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("m"))
      .select(explode(array((0 to sweepCap by 2)
        .map(lit(_)): _*)).as("e"), col("__b"), col("m"))
      .groupBy(col("e"),
        expr(s"substring(__b, 1, $basePlanes + e)").as("__p"))
      .agg(sum("m").as("mg"))
      .groupBy("e")
      .agg(coalesce(sum(expr("mg * (mg - 1) DIV 2")), lit(0L))
        .as("mass"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val extra = (0 to sweepCap by 2)
      .find(e => masses.getOrElse(e, 0L) <= budget)
      .getOrElse(sweepCap)
    basePlanes + extra
  }
  private def tableRowCount(s: SparkSession, dir: String,
                            table: String): Long =
    rowCountMemo(s, dir, table)(try {
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (st.isFile && name.endsWith(".parquet") &&
            !name.startsWith("_") && !name.startsWith(".")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, conf))
          try total += r.getRecordCount finally r.close()
        }
      }
      total
    } catch { case scala.util.control.NonFatal(_) =>
      T(s, dir, table).count()
    })

  /** Trained bitext IVF centroids STAGED per corpus snapshot (r16
    * verdict #4): the Lloyd retrain is a corpus-sized pass, and t137 /
    * t137b / t137c each re-ran it per query (and per bench pass) over
    * the same corpus. Same discipline as `stagedNeardupLabels`, keyed
    * by the embeddings snapshot plus the index shape — tag, k, and the
    * hierarchical floor, because the retrain's own assignment
    * dispatches on the floor. Parquet round-trips the trained doubles
    * exactly (they are micro-quantized integer means), so staged ==
    * inline values. `corpus` is by-name: only a cache miss pays its
    * construction. */
  private def stagedBitextCents(s: SparkSession, dir: String,
                                tag: String, corpus: => DataFrame,
                                k: Long): DataFrame = {
    val name =
      s"bitext_cents_${tag}_k${k}_f${graft.ops.Vectors.HierarchicalFloor}"
    val path = Stage.artifact(s, dir, name, "embeddings") { tmp =>
      val e = corpus
      lloydCentroids(e,
        e.where(col("vec_id") < k).select(col("vec_id").as("cid"),
          col("v")), k, "vec_id", "cid", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path).select("cid", "v")
  }

  /** TEST hook (StagedLabelsSpec): the staged organic-tag centroids
    * for `dir` at its production k, plus the inline retrain for
    * value comparison. */
  private[graft] def stagedBitextCentsForTest(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val n = tableRowCount(s, dir, "embeddings")
    val k = math.max(16L, n / 256L)
    def e = T(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val inline = lloydCentroids(e,
      e.where(col("vec_id") < k).select(col("vec_id").as("cid"),
        col("v")), k, "vec_id", "cid", "v")
    (stagedBitextCents(s, dir, "organic", e, k), inline)
  }

  /** t137's candidate generator: cross-side (even vec_id = "source
    * language", odd = "target") pairs sharing an IVF cell — the x
    * side multi-probes its nProbe nearest cells, the y side sits in
    * its top-1 cell — with the pair cosine pre-quantized to integer
    * micro units (order-free sums downstream). Cell count scales with
    * the corpus (k = max(16, n/256), t62's discipline) so cell
    * occupancy — and the candidate join and per-key windows it feeds
    * — stays flat at any corpus size. Checkpointed: three consumers
    * (both k-NN aggs + the margin join). */
  private def bitextIvfCandidates(s: SparkSession, dir: String,
                                  nProbe: Int = 2,
                                  xFilter: Column = lit(true))
      : DataFrame = {
    val n = tableRowCount(s, dir, "embeddings")
    val k = math.max(16L, n / 256L)
    def e = T(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = stagedBitextCents(s, dir, "organic", e, k)
    bitextCellCandidates(e, cents, k, nProbe, xFilter)
  }

  /** Candidate tables for an nProbe SWEEP (t137b/t137c): below the
    * hierarchical floor ONE nProbe=max run serves every smaller r by
    * a probe_rank prefix filter — flat probe ranks nest, so the
    * rank-≤r slice IS the nProbe=r run. At/above the floor they do
    * NOT nest: `hierProbeCells` at n probes the n nearest SUPERS, so
    * an n=4 probe's rank-1/2 cells can differ from (and dominate) a
    * true nProbe=1/2 run's — prefix-slicing there overstated the
    * production operating points and diverged from the twin's
    * per-nProbe blocks (r16 advice #2). Above the floor each r
    * generates its own candidates; the staged trained centroids are
    * shared, so the Lloyd retrain is still paid once. */
  private def bitextCandSweep(e: => DataFrame, cents: DataFrame,
                              k: Long, rs: Seq[Int], xFilter: Column)
      : Int => DataFrame =
    if (k < graft.ops.Vectors.HierarchicalFloor) {
      // deliberately NOT cut (r19 probe): the three nProbe curves
      // re-enter through the same assignment/cell-join exchanges and
      // AQE reuses them at runtime — a localCheckpoint here measured
      // SLOWER (t137b 2.75 → 3.23 s isolated), the same barrier-for-
      // nothing as q40/t107
      val cand = bitextCellCandidates(e, cents, k, rs.max, xFilter)
      r => cand.where(col("probe_rank") <= r)
    } else
      rs.map(r =>
        r -> bitextCellCandidates(e, cents, k, r, xFilter)).toMap

  /** SQ8 base (t140/t141/t142): the corpus micro-quantized
    * (`vu` array<long>), the per-dimension min/max trained over it
    * (`mnu`/`mxu`, one broadcast row — the scalar quantizer's whole
    * model is 2·dims longs), and the 8-bit `codes`:
    * (v−mn)·255 DIV max(mx−mn, 1). Integer end to end, so DuckDB
    * replays every code exactly. The trainer is a posexplode →
    * per-dim partial min/max (64 groups regardless of corpus size);
    * the encode is map-side. */
  /** Micro-quantization of a double vector column (the SQ8 domain). */
  private def sq8Vu(v: Column): Column =
    transform(v, x => round(x * lit(1000000.0)).cast("long"))

  /** The 8-bit codes from `vu`/`mnu`/`mxu` columns in scope:
    * (v−mn)·255 DIV max(mx−mn, 1). floor(x/y) on nonnegative doubles
    * below 2^53 IS integer division (the quotient sits ≥ 1/y > one
    * ulp from the next integer), matching the twin's `//`. */
  private def sq8CodesCol: Column =
    transform(sequence(lit(1), lit(64)), i =>
      floor(((element_at(col("vu"), i) - element_at(col("mnu"), i)) *
        lit(255L)).cast("double") /
        greatest(element_at(col("mxu"), i) - element_at(col("mnu"), i),
          lit(1L)).cast("double")).cast("long"))

  /** The scalar quantizer's whole model — per-dimension min/max over
    * the micro-quantized corpus, one broadcast row (2·dims longs).
    * The trainer is a posexplode → per-dim partial min/max (64 groups
    * regardless of corpus size). */
  private def sq8Stats(e2: DataFrame): DataFrame =
    // outer + null drop ≡ inner (vu is 64 non-null longs for every
    // row), but avoids the inferred size(transform(…))>0 filter that
    // re-ran the vu micro-quantization transform below the projection
    e2.select(posexplode_outer(col("vu")))
      .where(col("col").isNotNull)
      .groupBy(col("pos"))
      .agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .groupBy()
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          f => f.getField("mn")).as("mnu"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          f => f.getField("mx")).as("mxu"))

  private def sq8Encoded(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings").select(col("vec_id"),
      sq8Vu(transform(col("embedding"), x => x.cast("double")))
        .as("vu"))
    e.crossJoin(broadcast(sq8Stats(e)))
      .select(col("vec_id"), col("vu"), col("mnu"), col("mxu"),
        sq8CodesCol.as("codes"))
  }

  /** The SQ8 base CTEs shared by the three twins: micro-quantized
    * corpus `e` (vec_id, vu), the one-row trained stats `st`
    * (mnu, mxu), and the encoded corpus `enc`. */
  private lazy val sq8BaseSql: String =
    """e AS MATERIALIZED (
         SELECT vec_id,
           -- cast BEFORE the multiply: float4 * 1e6 in float precision
           -- drifts from Spark's double multiply on ~1 µ per 10⁶ values
           [CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
            FOR x IN embedding] AS vu
         FROM embeddings),
       st AS MATERIALIZED (
         SELECT list(mn ORDER BY d) AS mnu, list(mx ORDER BY d) AS mxu
         FROM (
           SELECT d, min(vu[d]) AS mn, max(vu[d]) AS mx
           FROM e, unnest(generate_series(1, 64)) AS u(d)
           GROUP BY d)),
       enc AS MATERIALIZED (
         SELECT vec_id, vu, mnu, mxu,
           [((vu[i] - mnu[i]) * 255) // greatest(mxu[i] - mnu[i], 1)
            FOR i IN generate_series(1, 64)] AS codes
         FROM e, st)"""

  /** `sq8Recon`'s SQL: bin-midpoint reconstruction of coordinate `i`
    * from code array `$arr` (mnu/mxu in scope). */
  private def sq8ReconSql(arr: String): String =
    s"(mnu[i] + ((2 * ${arr}[i] + 1) * (mxu[i] - mnu[i])) // 512)"

  /** IVF-PQ twin base (t143/t144): `ivfPqApprox`'s exact replay at
    * the corpus-scaled operating point — scaled cell count / nProbe /
    * codebook stride in `kk`, floor-dispatched coarse assignment
    * (`scaledAssignSql`, prefix `pq`), residuals, the STRIDED-sample
    * residual codebook, per-subspace codes (t28's shape on
    * residuals), reconstruction (t29's shape), floor-dispatched probe
    * list with per-cell query residuals, and the cell-restricted ADC
    * scores `sadc`. */
  private lazy val ivfPqBaseSql: String =
    s"""e AS MATERIALIZED (
         SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
         FROM embeddings),
       kk AS MATERIALIZED (
         SELECT greatest(16, count(*) // 256) AS k,
           greatest(1, count(*) // 256) AS st,
           greatest(2, CAST(ceil(sqrt(CAST(greatest(16, count(*) // 256)
             AS DOUBLE)) / 2) AS BIGINT)) AS np
         FROM e),
       c AS MATERIALIZED (
         SELECT vec_id AS cid, v AS cv FROM e, kk WHERE vec_id < kk.k),
       ${scaledAssignSql("pq", "e", "c", "(SELECT k FROM kk)")},
       res AS MATERIALIZED (
         SELECT a.vec_id, a.cid AS cell,
           [a.v[i] - c.cv[i] FOR i IN generate_series(1, 64)] AS r
         FROM pqasg a JOIN c ON c.cid = a.cid),
       cb AS MATERIALIZED (
         -- seeds (vec_id < k) excluded: their residual is the zero
         -- vector, a degenerate codebook entry
         SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pcid,
           r AS pcv
         FROM res, kk WHERE vec_id % kk.st = 0 AND vec_id >= kk.k
         QUALIFY pcid <= 255),
       d AS (
         SELECT res.vec_id, j, cb.pcid,
           list_sum([(res.r[(j-1)*8+i] - cb.pcv[(j-1)*8+i])
                     * (res.r[(j-1)*8+i] - cb.pcv[(j-1)*8+i])
                     FOR i IN generate_series(1, 8)]) AS dist
         FROM res, cb, unnest(generate_series(1, 8)) AS u(j)),
       codes AS MATERIALIZED (
         SELECT vec_id, j, pcid FROM d
         QUALIFY row_number() OVER (PARTITION BY vec_id, j
           ORDER BY dist, pcid) = 1),
       recon AS MATERIALIZED (
         SELECT c2.vec_id,
           flatten(list(b.pcv[(c2.j-1)*8+1:(c2.j-1)*8+8] ORDER BY c2.j))
             AS rv
         FROM codes c2 JOIN cb b ON b.pcid = c2.pcid
         GROUP BY c2.vec_id),
       q AS MATERIALIZED (
         SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       q2 AS (SELECT qid AS vec_id, qv AS v FROM q),
       ${flatProbeSql("pqq", "q2", "c", "(SELECT np FROM kk)",
          flatPred("(SELECT k FROM kk)"))},
       ${hierProbeSql("pqq", "q2", "pq", "(SELECT np FROM kk)",
          hierPredSql("(SELECT k FROM kk)"))},
       pc0 AS (
         SELECT vec_id AS qid, cell FROM pqqfp
         WHERE ${flatPred("(SELECT k FROM kk)")}
         UNION ALL
         SELECT vec_id AS qid, cell FROM pqqph
         WHERE ${hierPredSql("(SELECT k FROM kk)")}),
       pr AS MATERIALIZED (
         SELECT p.qid, p.cell,
           [q.qv[i] - c.cv[i] FOR i IN generate_series(1, 64)] AS qr
         FROM pc0 p JOIN q ON q.qid = p.qid JOIN c ON c.cid = p.cell),
       sadc AS MATERIALIZED (
         SELECT pr.qid, res.vec_id,
           list_sum([(pr.qr[i] - recon.rv[i]) * (pr.qr[i] - recon.rv[i])
                     FOR i IN generate_series(1, 64)]) AS dist
         FROM pr JOIN res ON res.cell = pr.cell
           JOIN recon ON recon.vec_id = res.vec_id
         WHERE pr.qid <> res.vec_id)"""

  /** IVF+SQ8 twin base (t145/t146): `ivfSq8Approx`'s exact replay —
    * t140's SQ8 encode (`sq8BaseSql`: e/st/enc), the corpus-scaled
    * floor-dispatched coarse assignment over the double vectors
    * (prefix `sq`), the cell-keyed posting table, the
    * floor-dispatched probe list, and the cell-restricted
    * integer-micro ADC scores `ssc`. */
  private lazy val ivfSq8BaseSql: String =
    s"""$sq8BaseSql,
       ed AS MATERIALIZED (
         SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
         FROM embeddings),
       kk AS MATERIALIZED (
         SELECT greatest(16, count(*) // 256) AS k,
           greatest(2, CAST(ceil(sqrt(CAST(greatest(16, count(*) // 256)
             AS DOUBLE)) / 2) AS BIGINT)) AS np
         FROM ed),
       c AS MATERIALIZED (
         SELECT vec_id AS cid, v AS cv FROM ed, kk WHERE vec_id < kk.k),
       ${scaledAssignSql("sq", "ed", "c", "(SELECT k FROM kk)")},
       post AS MATERIALIZED (
         SELECT enc.vec_id, a.cid AS cell, enc.vu, enc.mnu, enc.mxu,
           enc.codes
         FROM enc JOIN sqasg a USING (vec_id)),
       q AS MATERIALIZED (
         SELECT vec_id AS qid, vu AS qu FROM enc WHERE vec_id < 10),
       q2 AS (SELECT vec_id, v FROM ed WHERE vec_id < 10),
       ${flatProbeSql("sqq", "q2", "c", "(SELECT np FROM kk)",
          flatPred("(SELECT k FROM kk)"))},
       ${hierProbeSql("sqq", "q2", "sq", "(SELECT np FROM kk)",
          hierPredSql("(SELECT k FROM kk)"))},
       spc AS (
         SELECT vec_id AS qid, cell FROM sqqfp
         WHERE ${flatPred("(SELECT k FROM kk)")}
         UNION ALL
         SELECT vec_id AS qid, cell FROM sqqph
         WHERE ${hierPredSql("(SELECT k FROM kk)")}),
       ssc AS MATERIALIZED (
         SELECT q.qid, post.vec_id,
           CAST(list_sum([(q.qu[i] - ${sq8ReconSql("post.codes")}) *
                          (q.qu[i] - ${sq8ReconSql("post.codes")})
                          FOR i IN generate_series(1, 64)]) AS BIGINT)
             AS adc
         FROM spc p JOIN q ON q.qid = p.qid
           JOIN post ON post.cell = p.cell
         WHERE q.qid <> post.vec_id)"""

  /** Probe-cell dispatch shared by the composite indexes (IVF-PQ,
    * IVF-SQ8): each query row's `nProbe` nearest cells — the flat
    * top-n kernel over the one-row centroid array below the
    * hierarchical floor, `hierProbeCells` above it (the same
    * scale/floor discipline as the assignments). Returns
    * (qid, v, cell). */
  private def probeCellsScaled(q: DataFrame, cents: DataFrame,
                               kCells: Long, nProbe: Int): DataFrame =
    if (kCells < Vectors.HierarchicalFloor) {
      val centArr = broadcast(cents.groupBy().agg(
        collect_list(struct(col("cid").cast("long").as("cid"),
          col("v").as("cv"))).as("__cents")))
      q.crossJoin(centArr)
        .select(col("qid"), col("v"),
          explode(graft.functions.VectorExpressions
            .topNCentroid(col("v"), col("__cents"), nProbe))
            .as("cell"))
    } else
      Vectors.hierProbeCells(q, cents, Vectors.hierGroups(kCells),
        nProbe, "qid", "cid", "v", dims = 64)
        .select(col("qid"), col("v"), col("cell"))

  /** The IVF-PQ index build + search shared by t143/t144, at a
    * CORPUS-SCALED operating point (r17 verdict #1 — the r17 landing
    * pinned 16 cells / nProbe 2 / a prefix codebook slice, and its own
    * recall row showed the consequence: refined recall@5 fell 90%→54%
    * from sf0.01 to sf0.1, because at 100× a fixed 16-cell index
    * degenerates toward a brute scan with dead recall):
    *  - coarse cells k = max(16, n/256) (t62's discipline), assignment
    *    routed through `ivfAssignWithVecScaled` — two-level above the
    *    hierarchical floor, so the floored gate exercises the at-scale
    *    branch of BOTH engines;
    *  - nProbe = max(2, ⌈√k/2⌉) — probes grow with the cell count so
    *    the probed corpus fraction stays roughly flat (FAISS's
    *    √k-proportional rule);
    *  - residual codebook (m=8, ≤256 entries) trained on a STRIDED
    *    sample of the residuals (vec_id % (n/256) == 0, first 256 by
    *    id) — corpus-representative at any scale where the old prefix
    *    slice saw only the first cells' residuals, and the slice size
    *    stays ~256 rows independent of n;
    *  - probe cells dispatch on the floor exactly like the
    *    assignment: flat top-n kernel below, `hierProbeCells` above.
    * Refine-N stays a fixed multiple of the final k (t144 reranks the
    * ADC top-50 exactly — 10·k, FAISS IndexRefineFlat's usual
    * k_factor; measured on this corpus the true top-5's worst ADC
    * rank at sf0.1 is 151 with median well under 50, so 25 capped
    * refined recall at 62% where 50 reaches 86%).
    * SQL twin: `ivfPqBaseSql`. */
  private def ivfPqApprox(s: SparkSession, dir: String,
                          k: Int = 5): DataFrame = {
    val n = tableRowCount(s, dir, "embeddings")
    val kCells = math.max(16L, n / 256L)
    val nProbe = math.max(2, math.ceil(
      math.sqrt(kCells.toDouble) / 2.0).toInt)
    val stride = math.max(1L, n / 256L)
    val e = T(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = e.where(col("vec_id") < kCells)
      .select(col("vec_id").as("cid"), col("v"))
    val resid = Vectors
      .ivfAssignWithVecScaled(e, cents, kCells, "vec_id", "cid", "v",
        dims = 64)
      .join(broadcast(cents.select(col("cid"), col("v").as("__cv"))),
        Seq("cid"))
      .select(col("vec_id"), col("cid").as("cell"),
        zip_with(col("v"), col("__cv"), (a, b) => a - b).as("r"))
    // ≤256-entry residual codebook (8-bit codes, the standard PQ
    // operating point; 16 entries measured 0-40 % recall@5 — 4-bit
    // codes are too coarse for an unstructured corpus). The global
    // row_number window re-bases ids to 0..255 (the element_at
    // reconstruction contract) over a ~256-row slice — bounded at any
    // corpus size by the stride. Coarse seeds (vec_id < kCells) are
    // excluded from the sample: a seed's residual against its own
    // cell is the zero vector, a degenerate codebook entry (r18
    // advice — at gate SFs where stride = 1 the old sample spent 16
    // of its 256 entries on identical zeros).
    val cbW = Window.orderBy(col("vec_id"))
    val cb = resid.where(pmod(col("vec_id"), lit(stride)) === 0 &&
        col("vec_id") >= kCells)
      .select(col("vec_id"), col("r"))
      .withColumn("__rk", row_number().over(cbW))
      .where(col("__rk") <= 256)
      .select((col("__rk") - 1).cast("long").as("cid"), col("r"))
    // the posting table IS the index: built once, searched by every
    // query — materialize it (also: t129's checkpoint idiom)
    val enc = Vectors.pqEncodeKeep(resid, cb, "vec_id", "cid", "r",
      m = 8, dims = 64, keep = Seq("cell"))
      .localCheckpoint(false)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v"))
    val probeCells = probeCellsScaled(q, cents, kCells, nProbe)
    // the query's residual against each probed centroid — the vector
    // the ADC compares to
    val probes = probeCells
      .join(broadcast(cents.select(col("cid").as("cell"),
        col("v").as("__cv"))), Seq("cell"))
      .select(col("qid"), col("cell"),
        zip_with(col("v"), col("__cv"), (a, b) => a - b).as("__qr"))
    Vectors.ivfPqTopKProbed(probes, enc,
      cb.withColumnRenamed("r", "v"), "qid", "vec_id", "cell", "cid",
      "v", "codes", m = 8, dims = 64, k = k,
      probeRows = 10L * nProbe)
  }

  /** Bin-midpoint reconstruction of coordinate `i` from the `codes` /
    * `mnu` / `mxu` columns in scope: mn + (2·code+1)·(mx−mn) DIV 512,
    * integer micros. */
  private def sq8Recon(i: Column): Column =
    element_at(col("mnu"), i) +
      floor(((element_at(col("codes"), i) * lit(2L) + lit(1L)) *
        (element_at(col("mxu"), i) - element_at(col("mnu"), i)))
        .cast("double") / lit(512.0)).cast("long")

  /** The full reconstructed vector as one array column — computed ONCE
    * per corpus row (before any query join) so the ADC pair loop is a
    * plain integer array distance. Folding `sq8Recon` inside the
    * per-pair aggregate recomputed the 64-coordinate reconstruction
    * for every (query, row) pair — nProbe·queries× redundant work in
    * the hottest loop of the SQ8 search family (r19, guide §4).
    *
    * ONLY reference this where `codes` is a MATERIALIZED attribute
    * (after a localCheckpoint): when `codes` is still an alias in the
    * same projection, CollapseProject inlines the whole codes
    * transform into each element — element_at(transform(vu…), i)
    * rebuilds the 64-entry code array PER COORDINATE, a measured 64×
    * blowup (r19: t141 2.0 → 3.3 s). Transient frames use
    * `sq8ReconArrFromVu`. */
  private def sq8ReconArr: Column =
    transform(sequence(lit(1), lit(64)), i => sq8Recon(i))

  /** `sq8ReconArr` with the code FUSED per coordinate — O(1) in
    * vu/mnu/mxu per element, safe in transient frames where `codes`
    * is an un-materialized sibling alias (see sq8ReconArr's inlining
    * trap). Arithmetic-identical to recon-from-codes: same integer
    * code (floor-div on nonnegative doubles < 2^53 IS integer
    * division, the sq8CodesCol contract), same bin midpoint. */
  private def sq8ReconArrFromVu: Column =
    transform(sequence(lit(1), lit(64)), { i =>
      val mn = element_at(col("mnu"), i)
      val mx = element_at(col("mxu"), i)
      val code = floor(((element_at(col("vu"), i) - mn) * lit(255L))
        .cast("double") / greatest(mx - mn, lit(1L)).cast("double"))
        .cast("long")
      mn + floor(((code * lit(2L) + lit(1L)) * (mx - mn))
        .cast("double") / lit(512.0)).cast("long")
    })

  /** Test hook pinning the two reconstruction paths to each other
    * (r19 advice #3): the fused-from-vu form re-derives the 8-bit code
    * inline, so an encoding change that only touches `sq8CodesCol`
    * would silently desynchronize it. Returns, per corpus row, both
    * reconstructions over a CHECKPOINTED encoded frame (so `codes` is
    * a materialized attribute and sq8ReconArr is safe to reference) —
    * Sq8ReconParitySpec asserts element-wise equality. */
  private[graft] def sq8ReconPairForTest(s: SparkSession,
                                         dir: String): DataFrame =
    sq8Encoded(s, dir).localCheckpoint(false)
      .select(col("vec_id"), sq8ReconArr.as("recon_codes"),
        sq8ReconArrFromVu.as("recon_vu"))

  /** IVF+SQ8 composite search (FAISS IndexIVFScalarQuantizer QT_8bit
    * — the other common production tier next to IVF-PQ, r17 verdict
    * #6: 4× compression with near-exact per-coordinate
    * reconstruction, where PQ's 32× trades much more recall): SQ8
    * codes stored KEYED BY the coarse cell, a query probes its
    * `nProbe` nearest cells and ADC-scores only those cells'
    * postings at the t141 integer-micro reconstruction distance —
    * exact replay on both engines. Same corpus-scaled operating
    * point and floor dispatch as `ivfPqApprox` (cells = max(16,
    * n/256), nProbe = max(2, ⌈√k/2⌉)). 100 TB shape: ONE map-side
    * pass both assigns the cell and encodes the codes (no
    * corpus-sized join — the stats and centroids are broadcast
    * models), the posting scan reads codes keyed by cell
    * (partition-prunable), and only the bounded per-query top-k
    * window shuffles candidates. SQL twin: `ivfSq8BaseSql`. */
  private def ivfSq8Approx(s: SparkSession, dir: String,
                           k: Int = 5): DataFrame = {
    val n = tableRowCount(s, dir, "embeddings")
    val kCells = math.max(16L, n / 256L)
    val nProbe = math.max(2, math.ceil(
      math.sqrt(kCells.toDouble) / 2.0).toInt)
    val e = T(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = e.where(col("vec_id") < kCells)
      .select(col("vec_id").as("cid"), col("v"))
    val stats = broadcast(sq8Stats(e.select(col("vec_id"),
      sq8Vu(col("v")).as("vu"))))
    // the index build: assignment + encode in one map-side pass; the
    // posting table is built once and searched by every query
    val posting = Vectors
      .ivfAssignWithVecScaled(e, cents, kCells, "vec_id", "cid", "v",
        dims = 64)
      .withColumn("vu", sq8Vu(col("v")))
      .crossJoin(stats)
      .select(col("vec_id"), col("cid").as("cell"), col("vu"),
        col("mnu"), col("mxu"), sq8CodesCol.as("codes"))
      .localCheckpoint(false)
      // reconstruction AFTER the checkpoint: codes is a materialized
      // attribute there, so the per-row recon reads the STORED codes
      // (the production search path) and CollapseProject cannot inline
      // the codes transform into it (see sq8ReconArr). The Project
      // stays below the probe join — once per posting row, never per
      // scored pair.
      .withColumn("__ru", sq8ReconArr)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v"))
    val probes = probeCellsScaled(q, cents, kCells, nProbe)
      .select(col("qid"), col("cell"), sq8Vu(col("v")).as("qu"))
    val scored = posting.join(broadcast(probes), Seq("cell"))
      .where(col("qid") =!= col("vec_id"))
      // single-pass integer kernel ≡ the index-order long fold
      // (SketchExprSpec) — the interpreted per-coordinate lambda was
      // the search loop's dominant CPU term
      .withColumn("adc",
        graft.functions.VectorExpressions
          .sqDistLong(col("qu"), col("__ru")))
    val w = Window.partitionBy("qid").orderBy(col("adc"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("adc"), col("rn"))
  }

  /** ONE Lloyd re-centering round over the first-k seeds — the IVF
    * retrain step (q39's kmeans step, r15 verdict #7: first-k seeds
    * are deterministic but arbitrary; one round measurably tightens
    * cells, which buys recall at the same nProbe). Engine-portable by
    * QUANTIZATION: each coordinate is quantized to integer micros
    * BEFORE summation (order-free integer sums), and the new centroid
    * coordinate is floor(sum_micro / count) / 1e6 — exact integer
    * arithmetic inside doubles on both engines, where a raw double
    * avg would differ in the LSB by summation order and flip
    * near-boundary assignments. Empty cells keep their seed (the
    * kmeansStep convention). Assignment routes through the scaled
    * dispatch, so the retrain itself is two-level above the floor.
    * Returns (cidCol, vecCol double). SQL twin: `lloydCentSql`. */
  private def lloydCentroids(corpus: DataFrame, seeds: DataFrame,
                             k: Long, idCol: String, cidCol: String,
                             vecCol: String): DataFrame = {
    val asg = Vectors.ivfAssignWithVecScaled(corpus, seeds, k, idCol,
      cidCol, vecCol, dims = 64)
    val means = asg.select(col(cidCol), posexplode(col(vecCol)))
      .groupBy(col(cidCol), col("pos"))
      .agg(sum(round(col("col").cast("double") * lit(1000000.0))
        .cast("long")).as("__s"), count(lit(1)).as("__c"))
      .select(col(cidCol), col("pos"),
        (floor(col("__s").cast("double") / col("__c")) /
          lit(1000000.0)).as("__v"))
      .groupBy(col(cidCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("__v")))),
        s => s.getField("__v")).as("__new"))
    seeds.select(col(cidCol).cast("long").as(cidCol),
        transform(col(vecCol), x => x.cast("double")).as("__prev"))
      .join(means, Seq(cidCol), "left")
      .select(col(cidCol), coalesce(col("__new"), col("__prev"))
        .as(vecCol))
  }

  /** TEST hook (VectorHierSpec): the candidate generator at an
    * explicit k, so a spec can exercise the above-floor hierarchical
    * branch on a small corpus (gate SFs sit below the floor — the
    * first 100× run caught a column-name bug there). Trains inline
    * (no backing table to fingerprint). */
  private[graft] def bitextCandidatesForTest(e: DataFrame, k: Long,
                                             nProbe: Int): DataFrame = {
    val cents = lloydCentroids(e,
      e.where(col("vec_id") < k).select(col("vec_id").as("cid"),
        col("v")), k, "vec_id", "cid", "v")
      .localCheckpoint(false)
    bitextCellCandidates(e, cents, k, nProbe, lit(true))
  }

  /** `bitextIvfCandidates` over an explicit (vec_id, v) corpus with
    * explicit trained centroids and cell count — the t137c
    * planted-recall harness mines a corpus it constructs (organic ∪
    * planted translation twins), so the candidate generator cannot
    * read the table itself; `cents` comes staged
    * (`stagedBitextCents`) so the Lloyd retrain runs once per corpus
    * snapshot, not once per query (r16 verdict #4). */
  private def bitextCellCandidates(e: DataFrame, cents: DataFrame,
                                   k: Long, nProbe: Int,
                                   xFilter: Column): DataFrame = {
    // IVF cells, not SRP buckets: the bitext operating point is
    // MID-similarity (a translation pair sits at cos ≈ 0.8, far from
    // the near-dup band where t10's sign-random projections excel),
    // and a single SRP table's per-plane agreement decays
    // exponentially there — measured: radius-0 recall ~10 % on this
    // corpus. Coarse Voronoi cells + multi-probe is what production
    // bitext miners (FAISS IVF, Artetxe & Schwenk's own setup) use:
    // the x side probes its nProbe nearest cells via the map-side
    // top-n kernel (the probe side is corpus-sized — t9's
    // broadcast-probes shape doesn't apply), the y side sits in its
    // top-1 cell, candidates join on the cell id. Cell count scales
    // with the corpus (k = max(16, n/256), t62's discipline) so cell
    // occupancy — and the candidate join — stays flat. t137b
    // MEASURES recall per nProbe against an exact probe slice.
    // Output: (x_id, y_id, cos_micro, probe_rank) where probe_rank is
    // the rank of the pair's shared cell in x's probe list — so ONE
    // top-nProbe assignment pass serves every smaller nProbe by a
    // cheap rank filter (t137b's sweep: one assignment, three
    // curves). `xFilter` pushes a probe-slice restriction BEFORE the
    // assignment (per-x candidates are independent of other xs, so
    // filter-then-assign ≡ assign-then-filter — the twin filters cp).
    // No distinct: y sits in exactly one cell and x's probed cells
    // are distinct, so a pair occurs at most once by construction.
    //
    // Cells are TRAINED (one quantized Lloyd round over the first-k
    // seeds, r16): tighter cells put a pair's two sides in the same
    // cell more often — measured on the planted corpus (t137c),
    // recall at nProbe 1/2/4 moves 46/67/85 % (seeds) → 59/78/93 %
    // (trained) at sf0.1, 52/70/86 → 72/87/97 % at sf0.01; the
    // structureless curve (t137b) moves 49 → 60 % at nProbe 4
    // (sf0.01). The retrain itself arrives staged per corpus
    // snapshot via `stagedBitextCents` (r17), so it runs once per
    // snapshot across all consumers, queries, and bench passes.
    val xRows = e.where(pmod(col("vec_id"), lit(2)) === 0 && xFilter)
    val yRows = e.where(pmod(col("vec_id"), lit(2)) === 1)
    // scale dispatch (Vectors.HierarchicalFloor): below the floor the
    // flat single-row centroid array is exact and join-free; at/above
    // it both sides route through the two-level quantizer (O(√k) per
    // row, centroids as a g-row broadcast table — the flat one-row
    // collect_list would hit the 2 GB ceiling near k ≈ 4M)
    val (x, y) =
      if (k < graft.ops.Vectors.HierarchicalFloor) {
        val centArr = broadcast(cents
          .groupBy().agg(collect_list(struct(
            col("cid").cast("long").as("cid"), col("v").as("cv")))
            .as("__cents")))
        (xRows.crossJoin(centArr)
          .select(col("vec_id").as("x_id"), col("v").as("xv"),
            posexplode(graft.functions.VectorExpressions
              .topNCentroid(col("v"), col("__cents"), nProbe)))
          .select(col("x_id"), col("xv"), col("col").as("cell"),
            (col("pos") + 1).cast("long").as("probe_rank")),
          yRows.crossJoin(centArr)
            .select(col("vec_id").as("y_id"), col("v").as("yv"),
              graft.functions.VectorExpressions
                .argminCentroid(col("v"), col("__cents")).as("cell")))
      } else {
        val g = graft.ops.Vectors.hierGroups(k)
        // cidCol names the CENTROID table's id column ("cid" in
        // `cents`) — the r16 100× run caught this call passing the
        // output alias instead (gate SFs sit below the floor, so only
        // an at-scale execution exercises this branch)
        (graft.ops.Vectors
          .hierProbeCells(xRows, cents, g, nProbe, "vec_id", "cid", "v",
            dims = 64)
          .select(col("vec_id").as("x_id"), col("v").as("xv"),
            col("cell"), col("probe_rank")),
          graft.ops.Vectors
            .ivfAssignWithVecHier(yRows, cents, g, "vec_id", "cid",
              "v", dims = 64)
            .select(col("vec_id").as("y_id"), col("v").as("yv"),
              col("cid").as("cell")))
      }
    x.join(y, Seq("cell"))
      .withColumn("cos_micro",
        round(Vectors.cosine(col("xv"), col("yv")) * lit(1000000.0))
          .cast("long"))
      .where(col("cos_micro") > 0) // negatives never mine as bitext
      .select("x_id", "y_id", "cos_micro", "probe_rank")
      .localCheckpoint(false)
  }

  /** The ratio-margin top-1 selection over a (x_id, y_id, cos_micro)
    * candidate table (Artetxe & Schwenk 2019): margin = cos over the
    * mean cosine of both sides' k-NN neighborhoods (computed over
    * the SAME candidates), in pure integer arithmetic —
    * margin_ppm = cos·2·kx·ky·10⁶ DIV (Σx·ky + Σy·kx) — and keep the
    * best target per source above margin 1.0. Shared by t137 (bucket
    * candidates) and t137b (exact probe candidates), so the miner
    * and its recall harness cannot drift. */
  private def bitextTop1(cand: DataFrame, k: Int): DataFrame = {
    // Every window here is the GROUP-LIMITED shape — rank, then
    // filter on the rank IMMEDIATELY, then aggregate — so Spark's
    // WindowGroupLimit prunes each key to its top-k rows map-side
    // BEFORE the exchange. The r15-r17 shape computed the
    // neighborhood sums as unordered aggregate windows over the full
    // partition (sum(when(rx <= k, cm)) OVER (PARTITION BY x_id)),
    // which buffers the ENTIRE candidate table in the window sorts:
    // measured at the organic 1000× point (2M vectors, 512M candidate
    // rows, 8 GiB heap) that shape dies in SparkOutOfMemoryError
    // while this one completes — the stats only ever need k rows per
    // key, and group-limit keeps exactly those. Values are identical:
    // the same (cos desc, id) rank order, the same integer sums; the
    // margin join-back re-attaches the compact per-key stats
    // (x-keyed and y-keyed, ~one row per corpus row) to the candidate
    // table, and the final top-1-by-margin window is group-limited
    // to 1 row per x.
    val wxo = Window.partitionBy("x_id")
      .orderBy(col("cos_micro").desc, col("y_id"))
    val wyo = Window.partitionBy("y_id")
      .orderBy(col("cos_micro").desc, col("x_id"))
    val wtop = Window.partitionBy("x_id")
      .orderBy(col("margin_ppm").desc, col("y_id"))
    val xs = cand
      .withColumn("__rx", row_number().over(wxo))
      .where(col("__rx") <= k)
      .groupBy(col("x_id"))
      .agg(sum(col("cos_micro")).as("sx"), count(lit(1)).as("kx"))
    val ys = cand
      .withColumn("__ry", row_number().over(wyo))
      .where(col("__ry") <= k)
      .groupBy(col("y_id"))
      .agg(sum(col("cos_micro")).as("sy"), count(lit(1)).as("ky"))
    cand
      .join(xs, Seq("x_id"))
      .join(ys, Seq("y_id"))
      .where(col("sx") * col("ky") + col("sy") * col("kx") > 0)
      .withColumn("margin_ppm", expr(
        "cos_micro * 2 * kx * ky * 1000000 DIV (sx * ky + sy * kx)"))
      .withColumn("rk", row_number().over(wtop))
      .where(col("rk") === 1 && col("margin_ppm") > 1000000L)
      .select(col("x_id"), col("y_id"), col("cos_micro"),
        col("margin_ppm"))
  }

  /** Planted-URL augmentation + domain extraction CTEs (`a`, `u` with
    * column `domain`) — the SQL twin of `urlAugmented` +
    * `TextOps.urlDomains`, shared by t19, t66 and the t74/t77 host
    * graph so the planted-URL scheme cannot desynchronize between its
    * SQL consumers (it is already a single definition on the Scala
    * side). */
  /** Binary-quantized ANN CTE chain (sign-bit signatures → Hamming
    * top-20 → exact-cosine rerank top-5, ending in `approx`
    * (qid, vec_id, hamming, c0, rn) and exposing `q`
    * (qid, qv, qh1, qh2)) — shared by the t88 result twin and t92's
    * recall measurement so the quantization scheme cannot drift
    * between them. Sign bits pack by the same MSB-first two-half
    * polynomial the Spark side uses. */
  private val binaryAnnSql: String =
    """e AS (
         SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
         FROM embeddings),
       sig AS (
         SELECT vec_id, v,
           CAST(list_sum([CASE WHEN v[d] >= 0
               THEN (1::BIGINT << (32 - d)) ELSE 0 END
             FOR d IN generate_series(1, 32)]) AS BIGINT) AS h1,
           CAST(list_sum([CASE WHEN v[d] >= 0
               THEN (1::BIGINT << (64 - d)) ELSE 0 END
             FOR d IN generate_series(33, 64)]) AS BIGINT) AS h2
         FROM e),
       q AS (SELECT vec_id AS qid, v AS qv, h1 AS qh1, h2 AS qh2
             FROM sig WHERE vec_id < 10),
       h AS (
         SELECT qid, vec_id, qv, v,
           CAST(bit_count(xor(h1, qh1)) + bit_count(xor(h2, qh2))
             AS BIGINT) AS hamming
         FROM sig, q WHERE vec_id <> qid),
       c AS (
         SELECT qid, vec_id, hamming, qv, v,
           row_number() OVER (PARTITION BY qid
             ORDER BY hamming, vec_id) AS hrn
         FROM h QUALIFY hrn <= 20),
       s AS (
         SELECT qid, vec_id, hamming,
           list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
           (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
            sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
           AS c0
         FROM c),
       approx AS (
         SELECT qid, vec_id, hamming, c0,
           row_number() OVER (PARTITION BY qid ORDER BY c0 DESC, vec_id)
             AS rn
         FROM s QUALIFY rn <= 5)"""

  // ---- IVF assignment twin blocks with the hierarchical-floor
  // dispatch (r16 advice #1). The Spark side routes every
  // corpus-scaled assignment through Vectors.ivfAssignWithVecScaled:
  // flat argmin below HierarchicalFloor, the two-level super/child
  // quantizer at/above it. The twins previously replayed the flat
  // argmin unconditionally — oracle-valid at gate SFs (k stays below
  // the floor) but silently divergent at exactly the 100× scale the
  // hierarchy exists for. Every block below now computes BOTH
  // branches and a `k < floor` predicate picks one, so a floored
  // validation run (SPARK_GRAFT_HIER_FLOOR, read by both engines)
  // hash-gates the above-floor branch at gate scale.

  /** The dispatch predicates over the SQL scalar `$kExpr`. */
  private def flatPred(kExpr: String): String =
    s"($kExpr) < ${graft.ops.Vectors.HierarchicalFloor}"
  private def hierPredSql(kExpr: String): String =
    s"($kExpr) >= ${graft.ops.Vectors.HierarchicalFloor}"

  /** Two-level index over centroid CTE `$c` (cid, cv): `${p}hs` =
    * the g = ⌈√k⌉ smallest-cid centroids as supers (scid, sv),
    * `${p}hcs` = every centroid routed to its nearest super by
    * (dist, scid) — `Vectors.hierIndex`'s twin. */
  private def hierIndexSql(p: String, c: String, kExpr: String,
                           pred: String): String =
    s"""${p}hs AS MATERIALIZED (
         SELECT cid AS scid, cv AS sv FROM $c
         WHERE $pred
         QUALIFY row_number() OVER (ORDER BY cid) <=
           CAST(ceil(sqrt(CAST(($kExpr) AS DOUBLE))) AS BIGINT)),
       ${p}hcs AS MATERIALIZED (
         SELECT cid, cv, scid FROM (
           SELECT cc.cid, cc.cv, s.scid,
             list_sum([(cc.cv[i]-s.sv[i])*(cc.cv[i]-s.sv[i])
                       FOR i IN generate_series(1, 64)]) AS dist
           FROM (SELECT * FROM $c WHERE $pred) cc, ${p}hs s)
         QUALIFY row_number() OVER (PARTITION BY cid
           ORDER BY dist, scid) = 1)"""

  /** Flat argmin of rows CTE `$rows` (vec_id, v) against `$c`
    * (cid, cv) → `${p}fasg` (vec_id, v, cid). */
  private def flatAssignSql(p: String, rows: String, c: String,
                            pred: String): String =
    s"""${p}fasg AS (
         -- NOTE: single-referenced; the union below is MATERIALIZED.
         -- The dispatch predicate is pushed into the row scan so the
         -- dead branch's cross join sees zero rows instead of being
         -- computed and discarded (a scalar subquery the optimizer
         -- cannot statically prune cost the r16 twin a disk spill).
         SELECT vec_id, v, cid FROM (
           SELECT r.vec_id, r.v, cc.cid,
             list_sum([(r.v[i]-cc.cv[i])*(r.v[i]-cc.cv[i])
                       FOR i IN generate_series(1, 64)]) AS dist
           FROM (SELECT * FROM $rows WHERE $pred) r, $c cc)
         QUALIFY row_number() OVER (PARTITION BY vec_id
           ORDER BY dist, cid) = 1)"""

  /** Two-level argmin of `$rows` via the `${hx}hs`/`${hx}hcs` index
    * → `${p}hasg` (vec_id, v, cid): nearest super by (dist, scid),
    * then nearest of that super's children by (dist, cid) —
    * `Vectors.ivfAssignWithVecHier`'s twin. */
  private def hierAssignSql(p: String, rows: String,
                            hx: String,
                            pred: String): String =
    s"""${p}ha1 AS (
         SELECT vec_id, v, scid FROM (
           SELECT r.vec_id, r.v, s.scid,
             list_sum([(r.v[i]-s.sv[i])*(r.v[i]-s.sv[i])
                       FOR i IN generate_series(1, 64)]) AS dist
           FROM (SELECT * FROM $rows WHERE $pred) r, ${hx}hs s)
         QUALIFY row_number() OVER (PARTITION BY vec_id
           ORDER BY dist, scid) = 1),
       ${p}hasg AS (
         SELECT vec_id, v, cid FROM (
           SELECT a.vec_id, a.v, cs.cid,
             list_sum([(a.v[i]-cs.cv[i])*(a.v[i]-cs.cv[i])
                       FOR i IN generate_series(1, 64)]) AS dist
           FROM ${p}ha1 a JOIN ${hx}hcs cs ON a.scid = cs.scid)
         QUALIFY row_number() OVER (PARTITION BY vec_id
           ORDER BY dist, cid) = 1)"""

  /** Floor-dispatched assignment → `${p}asg` (vec_id, v, cid):
    * `Vectors.ivfAssignWithVecScaled`'s twin (builds its own index
    * on `$c`). Both branches are written and the k predicate picks
    * one — at gate SFs both are tiny. */
  private def scaledAssignSql(p: String, rows: String, c: String,
                              kExpr: String): String =
    s"""${hierIndexSql(p, c, kExpr, hierPredSql(kExpr))},
       ${flatAssignSql(p, rows, c, flatPred(kExpr))},
       ${hierAssignSql(p, rows, p, hierPredSql(kExpr))},
       ${p}asg AS MATERIALIZED (
         SELECT vec_id, v, cid FROM ${p}fasg
         WHERE ${flatPred(kExpr)}
         UNION ALL
         SELECT vec_id, v, cid FROM ${p}hasg
         WHERE ${hierPredSql(kExpr)})"""

  /** Flat multi-probe: each row's `$n` nearest cells by (dist, cid)
    * → `${p}fp` (vec_id, cell, probe_rank). */
  private def flatProbeSql(p: String, rows: String, c: String,
                           nExpr: String,
                           pred: String): String =
    s"""${p}fp AS MATERIALIZED (
         SELECT vec_id, cell, rk AS probe_rank FROM (
           SELECT r.vec_id, cc.cid AS cell,
             row_number() OVER (PARTITION BY r.vec_id ORDER BY
               list_sum([(r.v[i]-cc.cv[i])*(r.v[i]-cc.cv[i])
                         FOR i IN generate_series(1, 64)]), cc.cid)
               AS rk
           FROM (SELECT * FROM $rows WHERE $pred) r, $c cc)
         WHERE rk <= ($nExpr))"""

  /** Two-level multi-probe → `${p}ph` (vec_id, cell, probe_rank):
    * the `$n` nearest supers, each super's top-`$n` children by
    * (dist, cid), re-ranked globally by (dist, cell) —
    * `Vectors.hierProbeCells`' twin. */
  private def hierProbeSql(p: String, rows: String, hx: String,
                           nExpr: String,
                           pred: String): String =
    s"""${p}ps AS (
         SELECT vec_id, v, scid FROM (
           SELECT r.vec_id, r.v, s.scid,
             row_number() OVER (PARTITION BY r.vec_id ORDER BY
               list_sum([(r.v[i]-s.sv[i])*(r.v[i]-s.sv[i])
                         FOR i IN generate_series(1, 64)]), s.scid)
               AS rk
           FROM (SELECT * FROM $rows WHERE $pred) r, ${hx}hs s)
         WHERE rk <= ($nExpr)),
       ${p}pc AS (
         SELECT vec_id, cid, dist FROM (
           SELECT ps.vec_id, ps.scid, cs.cid,
             list_sum([(ps.v[i]-cs.cv[i])*(ps.v[i]-cs.cv[i])
                       FOR i IN generate_series(1, 64)]) AS dist
           FROM ${p}ps ps JOIN ${hx}hcs cs ON ps.scid = cs.scid)
         QUALIFY row_number() OVER (PARTITION BY vec_id, scid
           ORDER BY dist, cid) <= ($nExpr)),
       ${p}ph AS MATERIALIZED (
         SELECT vec_id, cid AS cell, pr AS probe_rank FROM (
           SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS pr
           FROM ${p}pc)
         WHERE pr <= ($nExpr))"""

  /** t137's IVF base CTEs (e / kk / cent / ya) — vectors, the
    * corpus-scaled cell count (k = max(16, n/256), t62's formula),
    * the deterministic seed centroids (vec_id < k), and the y side's
    * floor-dispatched top-1 cell assignment. */
  /** One quantized-Lloyd re-centering round: from corpus CTE `$e`
    * (vec_id, v) and seed CTE `$c0` (cid, cv), lands trained cells as
    * `$out` (cid, cv) — `lloydCentroids`' exact twin, including the
    * floor dispatch of its assignment (the retrain itself routes
    * two-level above the floor). Coordinates are quantized to
    * integer micros BEFORE summation and the mean is
    * floor(sum/count)/1e6, so the trained centroids are bit-identical
    * doubles on both engines (a raw avg would differ in the LSB by
    * summation order). Empty cells keep their seed. */
  private def lloydCentSql(p: String, e: String, c0: String,
                           out: String, kExpr: String): String =
    s"""${scaledAssignSql(s"${p}l", e, c0, kExpr)},
       ${p}la AS MATERIALIZED (SELECT vec_id, cid FROM ${p}lasg),
       ${p}lm AS (
         SELECT cid, d,
           floor(CAST(sum(CAST(round(v[d] * 1000000) AS BIGINT))
                 AS DOUBLE) / count(*)) / 1000000.0 AS c
         FROM ${p}la JOIN $e USING (vec_id),
           unnest(generate_series(1, 64)) AS u(d)
         GROUP BY 1, 2),
       $out AS MATERIALIZED (
         SELECT $c0.cid, coalesce(t.cv, $c0.cv) AS cv
         FROM $c0 LEFT JOIN (
           SELECT cid, list(c ORDER BY d) AS cv
           FROM ${p}lm GROUP BY cid) t USING (cid))"""

  /** The shared tail of both bitext bases (organic and planted): the
    * trained cells, their two-level index, the side CTEs, and the
    * floor-dispatched y-side top-1 assignment. Expects `e` and `kk`
    * already defined. */
  private lazy val bitextIndexSql: String = {
    val k = "(SELECT k FROM kk)"
    s"""c0 AS MATERIALIZED (
         SELECT vec_id AS cid, v AS cv FROM e, kk
         WHERE vec_id < kk.k),
       ${lloydCentSql("bx", "e", "c0", "cent", k)},
       ${hierIndexSql("b", "cent", k, hierPredSql(k))},
       ex AS MATERIALIZED (
         SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       ey AS MATERIALIZED (
         SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
       ${flatAssignSql("y", "ey", "cent", flatPred(k))},
       ${hierAssignSql("y", "ey", "b", hierPredSql(k))},
       ya AS MATERIALIZED (
         SELECT vec_id AS y_id, cid AS cell FROM yfasg
         WHERE ${flatPred(k)}
         UNION ALL
         SELECT vec_id AS y_id, cid AS cell FROM yhasg
         WHERE ${hierPredSql(k)})"""
  }

  private lazy val bitextBaseSql: String =
    s"""e AS MATERIALIZED (
         SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
         FROM embeddings),
       kk AS MATERIALIZED (
         SELECT greatest(16, count(*) // 256) AS k FROM e),
       $bitextIndexSql"""

  /** Cell-candidate block at `nProbe` probed cells on the x side —
    * lands `${p}cp` (x_id, y_id, cm); the exact twin of
    * `bitextIvfCandidates`, prefix-parameterized so t137b sweeps
    * nProbe values in one statement (one block per nProbe — which is
    * exactly what the Spark side does above the floor too, where
    * probe ranks don't nest). The x probe dispatches on the floor
    * like every assignment. LATE materialization (r16):
    * the assignment windows and the pair join flow only ids/cells,
    * and the cosine joins the (small) corpus back per side — carrying
    * the 64-double vectors through the 10×-scale candidate pipeline
    * OOM'd DuckDB where ints stream fine. Same values. */
  private def bitextCandSql(p: String, nProbe: Int,
                            src: String = "ex"): String =
    s"""${flatProbeSql(s"${p}x", src, "cent", nProbe.toString,
           flatPred("(SELECT k FROM kk)"))},
       ${hierProbeSql(s"${p}x", src, "b", nProbe.toString,
           hierPredSql("(SELECT k FROM kk)"))},
       ${p}xa AS MATERIALIZED (
         SELECT vec_id AS x_id, cell FROM ${p}xfp
         WHERE ${flatPred("(SELECT k FROM kk)")}
         UNION ALL
         SELECT vec_id AS x_id, cell FROM ${p}xph
         WHERE ${hierPredSql("(SELECT k FROM kk)")}),
       ${p}cand AS (
         SELECT DISTINCT a.x_id, y.y_id,
           CAST(round(
             list_sum([ex.v[i]*ey.v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([ex.v[i]*ex.v[i]
                             FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([ey.v[i]*ey.v[i]
                             FOR i IN generate_series(1,64)])))
             * 1000000) AS BIGINT) AS cm
         FROM ${p}xa a JOIN ya y USING (cell)
           JOIN e ex ON ex.vec_id = a.x_id
           JOIN e ey ON ey.vec_id = y.y_id),
       ${p}cp AS MATERIALIZED (
         SELECT * FROM ${p}cand WHERE cm > 0)"""

  /** The ratio-margin top-1 block over candidate CTE `base`
    * (x_id, y_id, cm) — lands `<p>t1`; `bitextTop1`'s exact twin,
    * prefix-parameterized so t137b can run it on two candidate
    * universes in one statement. */
  private def bitextTop1Sql(p: String, base: String): String =
    s"""${p}nx AS (
         SELECT x_id, CAST(sum(cm) AS BIGINT) AS sx,
           CAST(count(*) AS BIGINT) AS kx
         FROM (SELECT *, row_number() OVER (PARTITION BY x_id
                 ORDER BY cm DESC, y_id) AS rk FROM $base) z
         WHERE rk <= 4 GROUP BY 1),
       ${p}ny AS (
         SELECT y_id, CAST(sum(cm) AS BIGINT) AS sy,
           CAST(count(*) AS BIGINT) AS ky
         FROM (SELECT *, row_number() OVER (PARTITION BY y_id
                 ORDER BY cm DESC, x_id) AS rk FROM $base) z
         WHERE rk <= 4 GROUP BY 1),
       ${p}mg AS (
         SELECT c.x_id, c.y_id, c.cm,
           CAST(c.cm * 2 * kx * ky * 1000000
             // (sx * ky + sy * kx) AS BIGINT) AS margin_ppm
         FROM $base c JOIN ${p}nx USING (x_id) JOIN ${p}ny USING (y_id)
         WHERE sx * ky + sy * kx > 0),
       ${p}t1 AS (
         SELECT x_id, y_id, cm, margin_ppm FROM (
           SELECT *, row_number() OVER (PARTITION BY x_id
             ORDER BY margin_ppm DESC, y_id) AS rk FROM ${p}mg) t
         WHERE rk = 1 AND margin_ppm > 1000000)"""

  // Binary (sign-bit) embedding quantization + Hamming-prefilter ANN:
  // each 64-dim vector compresses map-side to TWO longs (one sign bit
  // per dim — 16 bytes, a 16× cut vs the stored float32 and 32× vs
  // float64 working form), Hamming distance is bit_count(xor) on
  // those longs, and only the 20 Hamming-nearest candidates per
  // probe pay the exact-cosine rerank. This is the memory-bound ANN
  // scale path (the signature table fits where the vectors don't);
  // the 100 TB shape is identical to t4 — bounded probe set
  // broadcast against one linear pass — but the linear pass carries
  // 16 bytes/vector, and the rerank touches only 20 vectors/probe.
  // Sign bits pack by polynomial accumulation (acc*2+bit, MSB =
  // lowest dim) over two 32-dim halves so neither engine needs a
  // 1<<63 literal; the twin packs the same way.
  private def binaryAnn(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    def half(lo: Int): Column =
      aggregate(slice(col("embedding"), lo, 32), lit(0L),
        (acc, x) => acc * 2 + when(x >= 0, 1L).otherwise(0L))
    // the linear pass carries ONLY (vec_id, h1, h2) — 16 bytes of
    // signature, never the 512-byte vector (that would forfeit the
    // advertised memory cut; vectors rejoin below, candidates only)
    val sig = e.select(col("vec_id"),
      half(1).as("h1"), half(33).as("h2"))
    val probes = sig.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        col("h1").as("__qh1"), col("h2").as("__qh2"))
    val wH = Window.partitionBy("qid")
      .orderBy(col("hamming"), col("vec_id"))
    val cand = sig.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("hamming",
        expr("CAST(bit_count(h1 ^ __qh1) + bit_count(h2 ^ __qh2)" +
          " AS BIGINT)"))
      .withColumn("__hrn", row_number().over(wH))
      .where(col("__hrn") <= 20)
      .select("qid", "vec_id", "hamming")
    // rerank: the probes×20 candidate ids broadcast back against the
    // embeddings table (BroadcastHashJoin — the corpus streams, only
    // matched rows materialize their vector), then probe vectors
    // (10 rows) broadcast by qid
    val qvecs = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("__qv"))
    val wC = Window.partitionBy("qid")
      .orderBy(col("__cos").desc, col("vec_id"))
    e.select(col("vec_id"), col("embedding"))
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qvecs), Seq("qid"))
      .withColumn("__cos", Vectors.cosine(col("__qv"), col("embedding")))
      .withColumn("rn", row_number().over(wC).cast("long"))
      .where(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("hamming"),
        round(col("__cos"), 6).as("cos"), col("rn"))
  }

  val all: Seq[Query] = Seq(
    // Per-label centroid of the embedding corpus (the k-means / IVF
    // training building block), long-form (label, d, c).
    Query("q35_centroids", (s, dir) =>
      T(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("d"))
        .agg(round(avg(col("col").cast("double")), 6).as("c")),
      """SELECT label, d,
         round(avg(CAST(embedding[d] AS DOUBLE)), 6) AS c
         FROM embeddings, unnest(generate_series(1, 64)) AS u(d)
         GROUP BY 1, 2"""),

    // IVF coarse quantization: nearest of 16 seed centroids per vector.
    Query("q36_ivf_assign", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Vectors.ivfAssign(e, seedCentroids(e), "vec_id", "cid", "embedding")
    },
      s"""$ivfAssignSql
         SELECT vec_id, cid FROM a"""),

    // One Lloyd's iteration (the k-means / IVF re-train step), long-form
    // for the oracle: map-side assignment to the 16 seed centroids, then
    // the per-(cell, dim) mean via posexplode + partial aggregation.
    Query("q39_kmeans_step", (s, dir) => {
      val e = T(s, dir, "embeddings")
      Vectors.kmeansStep(e, seedCentroids(e), "vec_id", "cid", "embedding")
        .select(col("cid"), posexplode(col("embedding")))
        .select(col("cid"), (col("pos") + 1).cast("long").as("d"),
          round(col("col"), 6).as("c"))
    },
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         ct AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         asg AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, ct.cid,
               list_sum([(v[i]-cv[i])*(v[i]-cv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM e, ct)
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY dist, cid) = 1)
         SELECT a.cid, d, round(avg(v[d]), 6) AS c
         FROM asg a JOIN e USING (vec_id),
           unnest(generate_series(1, 64)) AS u(d)
         GROUP BY 1, 2"""),

    // Sign-bit quantization + Hamming-prefilter ANN (`binaryAnn`, which
    // t92 measures).
    Query("t88_binary_ann", binaryAnn,
      // Sign-bit packing mirrors the Spark polynomial fold exactly: two
      // 32-dim halves, MSB = lowest dim, so shifts stay under 1<<31.
      s"""WITH $binaryAnnSql
         SELECT qid, vec_id, hamming, round(c0, 6) AS cos, rn
         FROM approx"""),

    // MMR-diversified retrieval (Carbonell & Goldstein 1998) — the
    // RAG rerank that stops top-k from returning five near-copies of
    // the same passage: greedily pick argmax of
    // 0.7·sim(q,d) − 0.3·max_{s∈picked} sim(d,s), k=3 picks from the
    // 10 cosine-nearest candidates per probe. The scale contract: ONE
    // linear corpus pass builds the candidate pool (t4's broadcast
    // shape + WindowGroupLimit prune), one shuffle groups each
    // probe's pool, and the sequential-by-definition greedy runs as a
    // local kernel over the BOUNDED pool (`MmrPicksExpr`) — which is
    // how MMR always deploys (it reranks a page, never a corpus).
    // Unrolling the k rounds as plan nodes instead re-derives the
    // candidate scan each round (the pre-kernel form planned 22
    // nested-loop joins and 69 exchanges for k=3). Constants 0.7/0.3
    // are written literally on BOTH sides: deriving 0.3 as 1−λ gives
    // 0.30000000000000004 and a cross-engine rank flip. collect_list
    // order is non-deterministic; the kernel's argmax tie-breaks on
    // vec_id, so pool order cannot reach the result.
    Query("t91_mmr_diversify", (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("v").as("__qv"))
      val wQ = Window.partitionBy("qid")
        .orderBy(col("simq").desc, col("vec_id"))
      val cand = e.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("simq", Vectors.cosine(col("__qv"), col("v")))
        .withColumn("__rn", row_number().over(wQ))
        .where(col("__rn") <= 10)
        .select("qid", "vec_id", "simq", "v")
      cand.groupBy("qid")
        .agg(collect_list(struct(col("vec_id"), col("simq"), col("v")))
          .as("__cands"))
        .select(col("qid"),
          explode(graft.functions.VectorExpressions
            .mmrPicks(col("__cands"), 0.7, 0.3, 3)).as("__p"))
        .select(col("qid"), col("__p.pick").as("pick"),
          col("__p.vec_id").as("vec_id"),
          round(col("__p.mmr"), 6).as("mmr"))
    },
      // The greedy loop unrolled as pick-1/2/3 CTEs (the bpeTrainIterSql
      // pattern); 0.7/0.3 literal on both sides — see the Spark comment.
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
         cd0 AS (
           SELECT qid, vec_id, v,
             list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
             AS simq
           FROM e, q WHERE vec_id <> qid),
         cd AS (SELECT qid, vec_id, v, simq FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY simq DESC, vec_id) AS rn FROM cd0) WHERE rn <= 10),
         pr AS (
           SELECT a.qid, a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum([a.v[i]*b.v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([a.v[i]*a.v[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([b.v[i]*b.v[i] FOR i IN generate_series(1,64)])))
             AS sim_ab
           FROM cd a JOIN cd b
             ON a.qid = b.qid AND a.vec_id <> b.vec_id),
         p1 AS (SELECT qid, CAST(1 AS BIGINT) AS pick, vec_id, mmr
           FROM (SELECT qid, vec_id, simq * 0.7 AS mmr,
             row_number() OVER (PARTITION BY qid
               ORDER BY simq * 0.7 DESC, vec_id) AS r FROM cd)
           WHERE r = 1),
         r1 AS (SELECT cd.qid, cd.vec_id, cd.simq FROM cd
           LEFT JOIN p1 ON cd.qid = p1.qid AND cd.vec_id = p1.vec_id
           WHERE p1.vec_id IS NULL),
         m2 AS (SELECT r1.qid, r1.vec_id, r1.simq,
             max(pr.sim_ab) AS ms
           FROM r1 JOIN pr ON pr.qid = r1.qid AND pr.id_a = r1.vec_id
           JOIN p1 ON p1.qid = pr.qid AND p1.vec_id = pr.id_b
           GROUP BY 1, 2, 3),
         p2 AS (SELECT qid, CAST(2 AS BIGINT) AS pick, vec_id, mmr
           FROM (SELECT qid, vec_id, simq * 0.7 - ms * 0.3 AS mmr,
             row_number() OVER (PARTITION BY qid
               ORDER BY simq * 0.7 - ms * 0.3 DESC, vec_id) AS r
             FROM m2) WHERE r = 1),
         sel2 AS (SELECT qid, vec_id FROM p1
           UNION ALL SELECT qid, vec_id FROM p2),
         r2 AS (SELECT r1.qid, r1.vec_id, r1.simq FROM r1
           LEFT JOIN p2 ON r1.qid = p2.qid AND r1.vec_id = p2.vec_id
           WHERE p2.vec_id IS NULL),
         m3 AS (SELECT r2.qid, r2.vec_id, r2.simq,
             max(pr.sim_ab) AS ms
           FROM r2 JOIN pr ON pr.qid = r2.qid AND pr.id_a = r2.vec_id
           JOIN sel2 s ON s.qid = pr.qid AND s.vec_id = pr.id_b
           GROUP BY 1, 2, 3),
         p3 AS (SELECT qid, CAST(3 AS BIGINT) AS pick, vec_id, mmr
           FROM (SELECT qid, vec_id, simq * 0.7 - ms * 0.3 AS mmr,
             row_number() OVER (PARTITION BY qid
               ORDER BY simq * 0.7 - ms * 0.3 DESC, vec_id) AS r
             FROM m3) WHERE r = 1)
         SELECT qid, pick, vec_id, round(mmr, 6) AS mmr FROM (
           SELECT * FROM p1 UNION ALL SELECT * FROM p2
           UNION ALL SELECT * FROM p3)"""),

    // Recall@5 of the t88 sign-bit prefilter vs the exact cosine
    // truth — the ANN-quality measurement pattern (t60 for IVF, here
    // for binary quantization). Reuses the REGISTERED t88 query so
    // the measured thing is exactly the shipped thing; the exact side
    // is one linear corpus pass (the deliberate baseline, priced as
    // such). Integer ppm keeps the compare engine-portable.
    Query("t92_binary_recall", (s, dir) => {
      val approx = binaryAnn(s, dir)
        .select(col("qid"), col("vec_id"))
      val e = T(s, dir, "embeddings")
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      val exact = Vectors.bruteForceTopK(probes, e,
          "qid", "vec_id", "embedding", k = 5)
        .select(col("qid"), col("vec_id"))
      val hits = approx.join(exact, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
      probes.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("CAST(coalesce(n_hit, 0) * 1000000 DIV 5 AS BIGINT)")
            .as("recall_ppm"))
    },
      // Recall of the sign-bit prefilter against the exact cosine
      // truth, per probe — the number that justifies (or indicts) the
      // 16-byte signature. `exact` recomputes the t4 baseline from the
      // shared `e`/`q` CTEs; hits = |approx ∩ exact| per probe.
      s"""WITH $binaryAnnSql,
         x0 AS (
           SELECT qid, vec_id,
             list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
             AS cx
           FROM e, q WHERE vec_id <> qid),
         exact AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY cx DESC, vec_id) AS rn FROM x0)
           WHERE rn <= 5),
         hits AS (
           SELECT a.qid, CAST(count(*) AS BIGINT) AS n_hit
           FROM approx a JOIN exact x
             ON a.qid = x.qid AND a.vec_id = x.vec_id
           GROUP BY 1)
         SELECT q.qid, CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(n_hit, 0) * 1000000 // 5 AS BIGINT)
             AS recall_ppm
         FROM (SELECT DISTINCT qid FROM q) q
         LEFT JOIN hits ON hits.qid = q.qid"""),

    // Brute-force exact cosine top-5 for 10 query vectors (ANN baseline):
    // corpus never shuffles; queries broadcast.
    Query("t4_knn_cosine", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      Vectors.bruteForceTopK(q, e, "qid", "vec_id", "embedding", k = 5)
    },
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         s AS (
           SELECT qid, vec_id,
             list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
             AS c
           FROM e, q WHERE qid <> vec_id)
         SELECT qid, vec_id, round(c, 6) AS cos,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
             AS rn
         FROM s QUALIFY rn <= 5"""),

    // Hard-negative mining for contrastive embedding training (the
    // DPR/E5 curation step): for each probe, the top-k most-similar
    // vectors with a DIFFERENT label — "close but wrong" examples, the
    // ones a contrastive loss learns most from. Same shape as t4: the
    // bounded probe set broadcasts against one linear corpus pass
    // (BroadcastNestedLoopJoin — the label filter is non-equi), per-
    // probe top-k via a probe-partitioned window. At corpus scale the
    // IVF route (t9) replaces the linear pass; the label-mismatch
    // filter composes unchanged.
    Query("t84_hard_negatives", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("__qv"))
      val w = Window.partitionBy("qid")
        .orderBy(col("__cos").desc, col("vec_id"))
      e.crossJoin(broadcast(q))
        .where(col("label") =!= col("qlabel"))
        .withColumn("__cos", Vectors.cosine(col("__qv"), col("embedding")))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 5)
        .select(col("qid"), col("qlabel").cast("long").as("qlabel"),
          col("vec_id"), col("label").cast("long").as("label"),
          round(col("__cos"), 6).as("cos"), col("rn"))
    },
      """WITH e AS (
           SELECT vec_id, label,
             [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
               FROM e WHERE vec_id < 10),
         s AS (
           SELECT qid, qlabel, vec_id, label,
             list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
             AS c
           FROM e, q WHERE label <> qlabel)
         SELECT qid, CAST(qlabel AS BIGINT) AS qlabel, vec_id,
           CAST(label AS BIGINT) AS label, round(c, 6) AS cos,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id)
             AS rn
         FROM s QUALIFY rn <= 5"""),

    // SRP-LSH bucket histogram: 8 pseudo-random ±1 hyperplanes (md5-
    // derived), bucket assigned map-side — the scale path for ANN.
    Query("t5_srp_buckets", (s, dir) =>
      T(s, dir, "embeddings")
        .groupBy(Vectors.srpBucket(col("embedding"), 64, 8).as("bucket"))
        .agg(count(lit(1)).as("n")),
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings)
         SELECT array_to_string(
           [CASE WHEN list_sum(
              [CASE WHEN substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 1)
                    BETWEEN '8' AND 'f'
                    THEN v[d] ELSE -v[d] END
               FOR d IN generate_series(1, 64)]) >= 0
            THEN '1' ELSE '0' END
            FOR p IN generate_series(1, 8)], '') AS bucket,
           count(*) AS n
         FROM e GROUP BY 1"""),

    // Embedding-cosine near-dedup: the corpus is augmented with planted
    // perturbed copies (+0.05 on dim 1 → cosine ≈ 0.9998), then
    // SRP-LSH buckets generate candidate pairs in-bucket and a cosine
    // ≥ 0.99 join verifies — the vector twin of the t2 text pipeline.
    // The synthetic corpus has no natural near-dups (max cosine 0.51),
    // so the expected answer is exactly the planted pairs that share an
    // SRP bucket (the oracle replays the same bucketing).
    Query("t10_embed_neardup", (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val dup = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + 0.05),
          slice(col("v"), 2, 63)).as("v"))
      val corpus = e.unionByName(dup)
      // Planes SCALE with the corpus (r14, found by the full-suite
      // 100× run): fixed 8 planes = 256 buckets means occupancy grows
      // linearly with the corpus and in-bucket all-pairs QUADRATICALLY
      // — 414M candidate pairs at 100×. Target ~64 ids/bucket:
      // planes = max(8, ceil_log2(corpus/64)), integer-exact on both
      // engines (ceil_log2(m) = length(bin(m−1)); the oracle uses the
      // same formula — no float log at an integer boundary). Floor 8
      // keeps every gate-SF corpus on the historical bucketing.
      // Recall stays governed: the planted twins at cos 0.9998
      // disagree per plane with prob θ/π ≈ 0.006, so even 13 planes
      // keep P(same bucket) ≈ 0.92 — and the oracle replays the SAME
      // bucketing, so correctness gates at any plane count.
      // footer-stat count (no scan job; memoized per snapshot) — the
      // corpus is e ∪ its planted-twin copy, hence 2×
      val nCorpus = 2L * tableRowCount(s, dir, "embeddings")
      val basePlanes = math.max(8,
        64 - java.lang.Long.numberOfLeadingZeros(
          math.max((nCorpus + 63) / 64, 2L) - 1)).toInt
      // ADAPTIVE banding (r18 verdict #6, redesigned after the r19
      // 1000× probe): occupancy-targeted planes assume uniform
      // hashing, but a DENSE near-dup corpus (100× perturbed:
      // replicas at cos ≈ 0.93 co-bucket with prob ~0.19 at 13
      // planes) concentrates buckets and the in-bucket pair mass —
      // the verify join's real cost — explodes past the occupancy
      // model. The first r19 cut probed mass ONCE at the base plane
      // count and added ceil_log2(mass/budget) planes, assuming each
      // plane HALVES the mass — true for random collisions, false
      // for near-dup mass, which shrinks only ×0.88/plane at
      // cos 0.93. At 1000× (4M-row corpus) that under-correction
      // left ~274M realized pairs and the verify join's shuffle
      // spill filled the disk (SPILL_OUT_OF_MEMORY / no space —
      // caught by the standing 1000× probe, NOT by the 100× suite,
      // where the model's error was only 1.3×). So: MEASURE, don't
      // model. Plane p's hyperplane depends only on p, so a bucket
      // at q planes is a strict prefix of the bucket at q' > q —
      // one histogram at base+20 planes rolls up to the EXACT pair
      // mass at every even step in [base, base+20] (ids only, no
      // vectors, no pairs; the rollup shuffles 11 small keyed
      // copies of the histogram, not the corpus). Pick the smallest
      // plane count whose MEASURED mass fits the 8·n budget; the
      // +20 cap bounds the planted-pair cost (per-plane agree
      // ≈ 0.9858 at cos 0.9998, ~1.4%/plane) and a corpus still
      // over budget there proceeds at the cap with its measured
      // mass on record. Gate SFs sit at ≤ 8 pairs/row (sf0.01 ≈ 2,
      // sf0.1 ≈ 7.8) so the sweep picks step 0 — the historical
      // bucketing, bit-identical by the prefix property; the oracle
      // replays the SAME histogram + rollup + selection. Memoized
      // per corpus SNAPSHOT (tableRowCount's key discipline): the
      // sweep is a pure function of the corpus bytes, so repeated
      // plan constructions (bench pass 2, re-runs in one JVM) skip
      // the scan.
      val planes = srpPlanesMemo(s, dir, "embeddings", basePlanes.toString)(
        srpPlaneSweep(corpus, "v", basePlanes, nCorpus))
      val pairs = Dedup.srpCandidatePairs(corpus, "vec_id", "v",
        dims = 64, planes = planes)
      val va = corpus.select(col("vec_id").as("id_a"), col("v").as("__va"))
      val vb = corpus.select(col("vec_id").as("id_b"), col("v").as("__vb"))
      pairs.join(va, "id_a").join(vb, "id_b")
        .withColumn("__cos", Vectors.cosine(col("__va"), col("__vb")))
        .where(col("__cos") >= 0.99)
        .select(col("id_a"), col("id_b"),
          round(col("__cos"), 6).as("cos"))
    },
      // np = the same corpus-scaled plane count as the Spark side:
      // max(8, ceil_log2(corpus/64)) with ceil_log2(m) = length of
      // bin(m-1) — integer-exact, no float log at a boundary.
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         pl AS (
           SELECT greatest(8, length(bin(
             greatest((count(*) * 2 + 63) // 64, 2) - 1))) AS np,
             count(*) * 2 AS nc
           FROM e),
         c AS (
           SELECT * FROM e
           UNION ALL
           SELECT vec_id + 100000, list_prepend(v[1] + 0.05, v[2:64])
           FROM e),
         -- adaptive banding, MEASURED sweep (r19, after the 1000×
         -- probe killed the modeled single-shot correction): one
         -- histogram at np+20 planes; a bucket at q planes is a
         -- strict PREFIX of the bucket at q' > q, so rolling the
         -- histogram up by prefix gives the exact pair mass at every
         -- even step; pick the smallest plane count whose measured
         -- mass fits the 8·n budget, else the +20 cap
         hist AS (
           SELECT array_to_string(
             [CASE WHEN list_sum(
                [CASE WHEN substr(md5(p::VARCHAR || '_' || d::VARCHAR),
                            1, 1) BETWEEN '8' AND 'f'
                      THEN v[d] ELSE -v[d] END
                 FOR d IN generate_series(1, 64)]) >= 0
              THEN '1' ELSE '0' END
              FOR p IN generate_series(1, np + 20)], '') AS bkt,
             count(*) AS m
           FROM c, pl GROUP BY 1),
         masses AS (
           SELECT e, coalesce(sum(mg * (mg - 1) // 2), 0) AS mass
           FROM (
             SELECT es.e AS e, substr(bkt, 1, pl.np + es.e) AS pb,
               sum(m) AS mg
             FROM hist, pl,
               (SELECT unnest(generate_series(0, 20, 2)) AS e) es
             GROUP BY 1, 2)
           GROUP BY 1),
         pl2 AS (
           SELECT pl.np + coalesce(
             (SELECT min(ms.e) FROM masses ms, pl p2
              WHERE ms.mass <= 8 * greatest(p2.nc, 1)), 20) AS np
           FROM pl),
         b AS (
           SELECT vec_id, v, array_to_string(
             [CASE WHEN list_sum(
                [CASE WHEN substr(md5(p::VARCHAR || '_' || d::VARCHAR),
                            1, 1) BETWEEN '8' AND 'f'
                      THEN v[d] ELSE -v[d] END
                 FOR d IN generate_series(1, 64)]) >= 0
              THEN '1' ELSE '0' END
              FOR p IN generate_series(1, np)], '') AS bkt
           FROM c, pl2),
         s AS (
           SELECT a.vec_id AS id_a, y.vec_id AS id_b,
             list_sum([a.v[i]*y.v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([a.v[i]*a.v[i]
                             FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([y.v[i]*y.v[i]
                             FOR i IN generate_series(1,64)]))) AS csim
           FROM b a JOIN b y
             ON a.bkt = y.bkt AND a.vec_id < y.vec_id)
         SELECT id_a, id_b, round(csim, 6) AS cos
         FROM s WHERE csim >= 0.99"""),

    // Margin-based bitext mining (Artetxe & Schwenk 2019,
    // arXiv:1811.01136 — the multilingual-corpus curation step that
    // pairs translation candidates across languages): for each
    // "source-language" vector (even vec_id) find the best
    // "target-language" (odd vec_id) match by the RATIO margin —
    // cos(x,y) normalized by the mean cosine of each side's k-NN
    // neighborhood — which suppresses hub vectors that look close to
    // everything. Candidates come from shared IVF cells with
    // multi-probe on the x side (the oracle replays the same cell
    // assignment; see bitextIvfCandidates for why SRP was rejected at
    // this operating point), neighborhoods are computed over the SAME
    // candidate sets, and the margin is INTEGER-exact end to end: cos
    // quantized to micro units before any summation (order-free
    // sums), then
    //   margin_ppm = cos·2·kx·ky·10⁶ DIV (Σx·ky + Σy·kx)
    // (the ratio with both k-NN means over common denominator
    // 2·kx·ky). Keep the top-1 target per source with margin > 1.0.
    //
    // Scale shape: the cell count grows with the corpus
    // (k = max(16, n/256), t62's discipline) so cell occupancy — and
    // with it the candidate join and both per-key windows — stays
    // ~256·2 rows per key at any corpus size; the windows key on
    // x_id/y_id (high-cardinality, skew-free). One candidate table is
    // checkpointed and feeds both k-NN aggs and the margin join.
    Query("t137_bitext_margin", (s, dir) =>
      bitextTop1(bitextIvfCandidates(s, dir)
        .select("x_id", "y_id", "cos_micro"), k = 4),
      // IVF cells scale with the corpus (k = max(16, n/256)); the
      // margin arithmetic is pure integers after the per-pair micro
      // quantization, so sums are order-free on both engines. Shared
      // CTE blocks: `bitextCandSql` (cell candidates at nProbe=2),
      // `bitextTop1Sql` (the margin top-1 — serves t137b's sides too).
      s"""WITH $bitextBaseSql,
         ${bitextCandSql("", 2)},
         ${bitextTop1Sql("u_", "cp")}
         SELECT x_id, y_id, cm AS cos_micro, margin_ppm FROM u_t1"""),

    // Miner duplicate-saturation pre-flight (r17 verdict #4, carried
    // r16 #5): on a replica-saturated corpus the ratio-margin miner
    // mines 0 pairs WITH NO SIGNAL — margin_ppm pins to exactly
    // 1000000, never above t137's strict > threshold. TWO distinct
    // mechanisms produce that pin, and the diagnostic measures both
    // from the SAME candidate table the miner consumes:
    //  - NEAR-DUP BAND (sat_*): x's top-1 candidate is itself a
    //    near-identical replica (cm ≥ 0.99) — the shape when replicas
    //    cross sides;
    //  - NEIGHBORHOOD DEGENERACY (deg_*): x's top-4 candidates all
    //    share ONE cosine — 4 copies of the same partner, so top-1
    //    equals the neighborhood mean at ANY similarity level. This
    //    is the DataGen-replica shape (vec_id shifts preserve parity,
    //    so copies never cross sides: measured on the exact-replica
    //    10× corpus the miner mines 0 pairs while every top-1 cm is
    //    an unremarkable 0.33 — the band signal alone misses it).
    // `saturated` fires when either fraction crosses half the x side
    // — the operator a pipeline runs BEFORE paying the margin pass
    // (MinerPreflightSpec pins all three corpus shapes). Integer
    // micros end to end; one row.
    //
    // SAMPLED (r18 verdict #1): both signals are population FRACTIONS
    // over x, estimable from a bounded slice — the full-table shape
    // cost ~65% of the miner it guards at 1000× (314 s vs 485 s),
    // which defeats a pre-flight. The slice is ~2048 x's chosen by a
    // Knuth multiplicative hash of x_id (stride = n_x DIV 2048),
    // pushed BEFORE the cell assignment via `xFilter`, so the gate
    // pays O(sample · cell occupancy) at any corpus size. Hash, not
    // an id prefix/stride: replica corpora (the exact shape this gate
    // exists to catch) place copies at fixed id SHIFTS, so an
    // arithmetic slice could correlate with the replica structure and
    // systematically miss the saturated rows — the 2^20 pre-mask
    // keeps the multiply overflow-free at any id, and the hash
    // decorrelates sampledness from shift arithmetic. At the gate SFs
    // the stride is 1 (sample ≡ every x), so small corpora are
    // measured exactly; MinerPreflightSpec pins a 10k-vector corpus
    // where the stride is ≥2 and the sampled estimate must still
    // fire. `saturated` is coalesced to false on an empty candidate
    // table (r18 advice: the integer DIVs ride a null through the OR
    // otherwise, and getAs[Boolean] reads a silent false while the
    // emitted column stays null).
    Query("t147_miner_preflight", (s, dir) => {
      val n = tableRowCount(s, dir, "embeddings")
      val stride = math.max(1L, (n / 2L) / 2048L)
      // Knuth multiplicative hash, HIGH half of the 32-bit product:
      // the low bits of vec_id·odd are a bijection of vec_id's own
      // low bits (an odd multiplier can't mix upward), and the x side
      // is all-even — a low-bits mod would degenerate back into an
      // id-arithmetic stride. Bits 16..31 depend on every masked bit.
      val sampled = expr(
        "((((vec_id % 1048576) * 2654435761) % 4294967296) DIV 65536)" +
          s" % $stride = 0")
      val w = Window.partitionBy("x_id")
        .orderBy(col("cos_micro").desc, col("y_id"))
      val perX = bitextIvfCandidates(s, dir, xFilter = sampled)
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= 4)
        .groupBy(col("x_id"))
        .agg(max(col("cos_micro")).as("__top1"),
          min(col("cos_micro")).as("__mn4"),
          count(lit(1)).as("__cnt4"))
      perX
        .agg(count(lit(1)).as("n_x"),
          sum(col("__top1")).as("__sum_cm"),
          sum(when(col("__top1") >= 990000L, 1L).otherwise(0L))
            .as("sat_x"),
          sum(when(col("__cnt4") >= 2 && col("__mn4") === col("__top1"),
            1L).otherwise(0L)).as("deg_x"))
        .withColumn("mean_top1_cm",
          expr("__sum_cm DIV nullif(n_x, 0)"))
        .withColumn("sat_ppm",
          expr("sat_x * 1000000 DIV nullif(n_x, 0)"))
        .withColumn("deg_ppm",
          expr("deg_x * 1000000 DIV nullif(n_x, 0)"))
        .withColumn("saturated",
          coalesce(col("sat_ppm") >= 500000L ||
            col("deg_ppm") >= 500000L, lit(false)))
        .select("n_x", "mean_top1_cm", "sat_x", "sat_ppm", "deg_x",
          "deg_ppm", "saturated")
    },
      // Saturation pre-flight: per-x top-1 cosine + top-4 degeneracy
      // over a ~2048-x hash-stratified slice of the candidate table
      // (stride 1 at gate SFs — pfex ≡ ex there); band + degeneracy
      // fractions, one row, `saturated` null-safe on an empty slice.
      s"""WITH $bitextBaseSql,
         pfss AS (
           SELECT greatest(1, (SELECT count(*) FROM e) // 2 // 2048)
             AS st),
         pfex AS MATERIALIZED (
           -- high half of the 32-bit Knuth product: low bits of
           -- vec_id*odd never mix, and the x side is all-even
           SELECT vec_id, v FROM ex, pfss
           WHERE ((((vec_id % 1048576) * 2654435761) % 4294967296)
             // 65536) % pfss.st = 0),
         ${bitextCandSql("pf", 2, "pfex")},
         pft4 AS (
           SELECT x_id, max(cm) AS top1, min(cm) AS mn4,
             CAST(count(*) AS BIGINT) AS cnt4
           FROM (
             SELECT x_id, cm, row_number() OVER (PARTITION BY x_id
               ORDER BY cm DESC, y_id) AS rn
             FROM pfcp) z
           WHERE rn <= 4 GROUP BY x_id),
         pfa AS (
           SELECT CAST(count(*) AS BIGINT) AS n_x,
             CAST(sum(top1) AS BIGINT) AS sum_cm,
             CAST(sum(CASE WHEN top1 >= 990000 THEN 1 ELSE 0 END)
               AS BIGINT) AS sat_x,
             CAST(sum(CASE WHEN cnt4 >= 2 AND mn4 = top1
                           THEN 1 ELSE 0 END) AS BIGINT) AS deg_x
           FROM pft4)
         SELECT n_x, sum_cm // nullif(n_x, 0) AS mean_top1_cm, sat_x,
           sat_x * 1000000 // nullif(n_x, 0) AS sat_ppm,
           deg_x, deg_x * 1000000 // nullif(n_x, 0) AS deg_ppm,
           coalesce(
             (sat_x * 1000000 // nullif(n_x, 0)) >= 500000 OR
             (deg_x * 1000000 // nullif(n_x, 0)) >= 500000,
             false) AS saturated
         FROM pfa"""),

    // Recall harness for t137's IVF miner (the t60/t92 discipline:
    // every approximate scale path ships with its measured recall —
    // here as a CURVE over nProbe, the IVF recall/cost knob).
    // Exact side: the SAME margin pipeline over ALL cross-side pairs
    // of a bounded PROBE slice (x_id < 400 — at 100 TB the exact
    // side always runs on a probe sample, never the corpus); approx
    // sides: the cell candidates on the same slice at nProbe 1 and
    // 2. recall_ppm = mined-pair overlap / exact mined set, integer.
    Query("t137b_bitext_recall", (s, dir) => {
      val probeCap = 400L // even x_ids below this = ~200 probes
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val px = e.where(pmod(col("vec_id"), lit(2)) === 0 &&
          col("vec_id") < probeCap)
        .select(col("vec_id").as("x_id"), col("v").as("xv"))
      val y = e.where(pmod(col("vec_id"), lit(2)) === 1)
        .select(col("vec_id").as("y_id"), col("v").as("yv"))
      val exactCand = px.crossJoin(y)
        .withColumn("cos_micro",
          round(Vectors.cosine(col("xv"), col("yv")) * lit(1000000.0))
            .cast("long"))
        .where(col("cos_micro") > 0)
        .select("x_id", "y_id", "cos_micro")
        .localCheckpoint(false)
      // mined sets are probe-bounded (≤ ~200 rows) — checkpoint so
      // the semi-joins and counts read them without re-running the
      // margin pipeline
      val exact = bitextTop1(exactCand, k = 4)
        .select(col("x_id"), col("y_id"))
        .localCheckpoint(false)
      // below the floor ONE top-4 assignment pass serves all three
      // curves (rank-≤r slice); above it each r probes for real —
      // see bitextCandSweep
      val n = tableRowCount(s, dir, "embeddings")
      val k = math.max(16L, n / 256L)
      val cents = stagedBitextCents(s, dir, "organic", e, k)
      val candFor = bitextCandSweep(e, cents, k, Seq(1, 2, 4),
        xFilter = col("vec_id") < probeCap)
      Seq(1, 2, 4).map { r =>
        val approx = bitextTop1(
          candFor(r).select("x_id", "y_id", "cos_micro"), k = 4)
          .select(col("x_id"), col("y_id"))
          .localCheckpoint(false)
        exact.join(approx, Seq("x_id", "y_id"), "left_semi")
          .agg(count(lit(1)).as("__hit"))
          .crossJoin(broadcast(
            exact.agg(count(lit(1)).as("n_exact"))))
          .crossJoin(broadcast(
            approx.agg(count(lit(1)).as("n_approx"))))
          .select(lit(r.toLong).as("nprobe"),
            col("n_exact"), col("n_approx"),
            expr("__hit * 1000000 DIV greatest(n_exact, 1)")
              .as("recall_ppm"))
      }.reduce(_ unionByName _)
    },
      // Exact side = all cross-side pairs of the probe slice (x < 400);
      // approx sides = the cell candidates on the same slice at
      // nProbe 1 and 2; all run the SAME margin block, recall over
      // mined-(x,y) overlap, one row per nProbe.
      s"""WITH $bitextBaseSql,
         ${bitextCandSql("r0", 1)},
         ${bitextCandSql("r1", 2)},
         ${bitextCandSql("r2", 4)},
         bcp0 AS MATERIALIZED (SELECT * FROM r0cp WHERE x_id < 400),
         bcp1 AS MATERIALIZED (SELECT * FROM r1cp WHERE x_id < 400),
         bcp2 AS MATERIALIZED (SELECT * FROM r2cp WHERE x_id < 400),
         ec AS (
           SELECT a.vec_id AS x_id, y.vec_id AS y_id,
             CAST(round(
               list_sum([a.v[i]*y.v[i] FOR i IN generate_series(1,64)]) /
               (sqrt(list_sum([a.v[i]*a.v[i]
                               FOR i IN generate_series(1,64)])) *
                sqrt(list_sum([y.v[i]*y.v[i]
                               FOR i IN generate_series(1,64)])))
               * 1000000) AS BIGINT) AS cm
           FROM e a, e y
           WHERE a.vec_id % 2 = 0 AND a.vec_id < 400
             AND y.vec_id % 2 = 1),
         ecp AS MATERIALIZED (SELECT * FROM ec WHERE cm > 0),
         ${bitextTop1Sql("a0_", "bcp0")},
         ${bitextTop1Sql("a1_", "bcp1")},
         ${bitextTop1Sql("a2_", "bcp2")},
         ${bitextTop1Sql("ex_", "ecp")}
         SELECT CAST(1 AS BIGINT) AS nprobe,
           (SELECT CAST(count(*) AS BIGINT) FROM ex_t1) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM a0_t1) AS n_approx,
           CAST((SELECT count(*) FROM ex_t1 JOIN a0_t1 USING (x_id, y_id))
             * 1000000
             // greatest((SELECT count(*) FROM ex_t1), 1) AS BIGINT)
             AS recall_ppm
         UNION ALL
         SELECT CAST(2 AS BIGINT) AS nprobe,
           (SELECT CAST(count(*) AS BIGINT) FROM ex_t1) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM a1_t1) AS n_approx,
           CAST((SELECT count(*) FROM ex_t1 JOIN a1_t1 USING (x_id, y_id))
             * 1000000
             // greatest((SELECT count(*) FROM ex_t1), 1) AS BIGINT)
             AS recall_ppm
         UNION ALL
         SELECT CAST(4 AS BIGINT) AS nprobe,
           (SELECT CAST(count(*) AS BIGINT) FROM ex_t1) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM a2_t1) AS n_approx,
           CAST((SELECT count(*) FROM ex_t1 JOIN a2_t1 USING (x_id, y_id))
             * 1000000
             // greatest((SELECT count(*) FROM ex_t1), 1) AS BIGINT)
             AS recall_ppm"""),

    // PLANTED-pair recall for the bitext miner (r15 verdict: t137b's
    // honest-but-weak curve was measured on a corpus with NO locality
    // structure — best matches sit at cos ≈ 0.45, so 19/27/45 % at
    // nProbe 1/2/4 says nothing about the miner's REAL operating
    // point). Here every even vector gets a planted cross-side
    // "translation" twin: v + 0.75·rotate(v, 1), which lands at
    // cos ≈ 0.8 for near-iid embeddings (the Artetxe & Schwenk
    // operating band) — far above the organic max ≈ 0.51, so the twin
    // IS x's true best match and recall against the planted truth is
    // the number a production miner is judged by. Same one-assignment
    // rank-filter sweep as t137b (nProbe 1/2/4). The cell count uses
    // the n/256 discipline on the PLANTED corpus size (3n/2, evens
    // doubled): k = max(16, 3n/512) — at 100× (n = 200k → k = 1171)
    // this crosses HierarchicalFloor, so the planted recall ALSO
    // exercises the two-level quantizer at scale (gate SFs sit below
    // the floor; the twin replays the flat assignment they use).
    Query("t137c_bitext_planted", (s, dir) => {
      // Probe-SLICED recall (the t137b discipline, and the fix for
      // the one 8 GiB/100× OOM the r16 full-suite probe found):
      // recall is estimated over the x_id < 4000 probe slice — a
      // 2,000-probe sample at 100× (±2 % at 95 %), EVERY source at
      // the gate SFs (ids < 2,000 there, so gate hashes are
      // unchanged). The unsliced form built a 68M-pair candidate
      // table at 100× (667 s, then heap death at 8 GiB); at 100 TB
      // nobody computes full-corpus recall — the miner runs ONE
      // nProbe and recall is always sampled.
      val probeCap = 4000L
      val n = tableRowCount(s, dir, "embeddings")
      val k = math.max(16L, (3L * n) / 512L)
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val twins = e.where(pmod(col("vec_id"), lit(2)) === 0)
        .select((col("vec_id") + lit(10000001L)).as("vec_id"),
          transform(sequence(lit(1), lit(64)), i =>
            element_at(col("v"), i) +
              lit(0.75) * element_at(col("v"), pmod(i, lit(64)) + 1))
            .as("v"))
      val corpus = e.unionByName(twins)
      // trained centroids staged per corpus snapshot ("planted" tag —
      // the planted corpus is a deterministic function of the
      // embeddings table, so its fingerprint covers this construction)
      val cents = stagedBitextCents(s, dir, "planted", corpus, k)
      val candFor = bitextCandSweep(corpus, cents, k, Seq(1, 2, 4),
        xFilter = col("vec_id") < probeCap)
      val truth = e.where(pmod(col("vec_id"), lit(2)) === 0 &&
          col("vec_id") < probeCap)
        .select(col("vec_id").as("x_id"),
          (col("vec_id") + lit(10000001L)).as("y_id"))
        .localCheckpoint(false) // 3 consumers per nProbe row
      Seq(1, 2, 4).map { r =>
        val mined = bitextTop1(
          candFor(r).select("x_id", "y_id", "cos_micro"), k = 4)
          .select(col("x_id"), col("y_id"))
          .localCheckpoint(false)
        truth.join(mined, Seq("x_id", "y_id"), "left_semi")
          .agg(count(lit(1)).as("__hit"))
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
          .crossJoin(broadcast(mined.agg(count(lit(1)).as("n_mined"))))
          .select(lit(r.toLong).as("nprobe"),
            col("n_truth"), col("n_mined"),
            expr("__hit * 1000000 DIV greatest(n_truth, 1)")
              .as("recall_ppm"))
      }.reduce(_ unionByName _)
    },
      // Planted-recall twin: redefines the bitext base CTEs over the
      // organic ∪ planted-twin corpus (twin = v + 0.75·rotate(v,1) on
      // the odd side at id+10000001), then reuses the SAME candidate /
      // margin blocks; recall is overlap with the planted truth.
      s"""WITH eb AS MATERIALIZED (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         tw AS MATERIALIZED (
           SELECT vec_id + 10000001 AS vec_id,
             [v[i] + 0.75 * v[(i % 64) + 1]
              FOR i IN generate_series(1, 64)] AS v
           FROM eb WHERE vec_id % 2 = 0),
         e AS MATERIALIZED (
           SELECT * FROM eb UNION ALL SELECT * FROM tw),
         kk AS MATERIALIZED (SELECT greatest(16,
                  3 * (SELECT count(*) FROM eb) // 512) AS k),
         $bitextIndexSql,
         ${bitextCandSql("p0", 1)},
         ${bitextCandSql("p1", 2)},
         ${bitextCandSql("p2", 4)},
         sc0 AS MATERIALIZED (SELECT * FROM p0cp WHERE x_id < 4000),
         sc1 AS MATERIALIZED (SELECT * FROM p1cp WHERE x_id < 4000),
         sc2 AS MATERIALIZED (SELECT * FROM p2cp WHERE x_id < 4000),
         ${bitextTop1Sql("m0_", "sc0")},
         ${bitextTop1Sql("m1_", "sc1")},
         ${bitextTop1Sql("m2_", "sc2")},
         truth AS (
           SELECT vec_id AS x_id, vec_id + 10000001 AS y_id
           FROM eb WHERE vec_id % 2 = 0 AND vec_id < 4000)
         SELECT CAST(1 AS BIGINT) AS nprobe,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM m0_t1) AS n_mined,
           CAST((SELECT count(*) FROM truth JOIN m0_t1
               USING (x_id, y_id)) * 1000000
             // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
             AS recall_ppm
         UNION ALL
         SELECT CAST(2 AS BIGINT) AS nprobe,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM m1_t1) AS n_mined,
           CAST((SELECT count(*) FROM truth JOIN m1_t1
               USING (x_id, y_id)) * 1000000
             // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
             AS recall_ppm
         UNION ALL
         SELECT CAST(4 AS BIGINT) AS nprobe,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM m2_t1) AS n_mined,
           CAST((SELECT count(*) FROM truth JOIN m2_t1
               USING (x_id, y_id)) * 1000000
             // greatest((SELECT count(*) FROM truth), 1) AS BIGINT)
             AS recall_ppm"""),

    // Hierarchical (two-level) IVF coarse assignment — the 100 TB
    // index structure (FAISS's two-level quantizer shape): route each
    // vector to one of g = ⌈√k⌉ SUPER-cells, then argmin only that
    // super's children. O(n·2√k) total work vs the flat scan's O(n·k),
    // and the model is a g-row broadcast TABLE (each row O(√k·dims)),
    // never one collect_list row (which ceilings at 2 GB near k ≈ 4M).
    // k here is corpus-scaled AGGRESSIVELY (n/8, vs production's
    // n/256) precisely so the two-level path is exercised and
    // oracle-gated at every SF — the production call sites (t62,
    // t137) dispatch to this same code above Vectors.HierarchicalFloor.
    // The oracle replays the identical two-level argmin (supers = g
    // smallest-cid centroids, ties → smallest id at both levels).
    // Output: per super-cell (vecs routed, distinct child cells hit,
    // integer-quantized total distortion) — distortion sums pin every
    // assignment without a corpus-sized result.
    Query("t138_hier_assign", (s, dir) => {
      val n = tableRowCount(s, dir, "embeddings")
      val k = math.max(64L, n / 8L)
      val g = graft.ops.Vectors.hierGroups(k)
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      // NOT checkpointed (r20 negative probe): cutting cent to erase
      // the vec_id<k constraint (whose InferFiltersFromConstraints
      // echo pushes one `argmin(...) < k` copy into a filter) measured
      // 0.32 → 1.00 s — the materialization + lost parquet pruning
      // cost more than the duplicated argmin, and the inferred filter
      // survives anyway via the hier-index subtree's own constraints
      val cent = e.where(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v"))
      val asg = graft.ops.Vectors
        .ivfAssignWithVecHier(e, cent, g, "vec_id", "cid", "v",
          dims = 64)
      asg.join(broadcast(cent.select(col("cid"), col("v").as("__cv"))),
          Seq("cid"))
        .select(col("scid"), col("cid"), col("vec_id"),
          round(Vectors.sqDist(col("v"), col("__cv")) * lit(1000000.0))
            .cast("long").as("__dist_micro"))
        .groupBy("scid")
        .agg(count(lit(1)).as("vecs"),
          countDistinct(col("cid")).as("cells"),
          sum(col("__dist_micro")).as("sum_dist_micro"))
    },
      // twin of t138_hier_assign: the same two-level argmin — supers =
      // the g = ceil(sqrt(k)) smallest-cid centroids, each centroid
      // routed to its nearest super, each vector routed super-then-child
      // with (dist, id) tie-breaks at every level — over the same
      // corpus-scaled k = max(64, n // 8).
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         p AS (SELECT greatest(64, (SELECT count(*) FROM e) // 8) AS k),
         p2 AS (SELECT k,
                  CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS g
                FROM p),
         c AS (SELECT vec_id AS cid, v AS cv FROM e
               WHERE vec_id < (SELECT k FROM p2)),
         s AS (SELECT cid AS scid, cv AS sv FROM c
               QUALIFY row_number() OVER (ORDER BY cid) <=
                 (SELECT g FROM p2)),
         cs AS (
           SELECT cid, cv, scid FROM (
             SELECT c.cid, c.cv, s.scid,
               list_sum([(cv[i]-sv[i])*(cv[i]-sv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM c, s)
           QUALIFY row_number() OVER (PARTITION BY cid
             ORDER BY dist, scid) = 1),
         a1 AS (
           SELECT vec_id, v, scid FROM (
             SELECT e.vec_id, e.v, s.scid,
               list_sum([(v[i]-sv[i])*(v[i]-sv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM e, s)
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY dist, scid) = 1),
         a2 AS (
           SELECT vec_id, scid, cid, dist FROM (
             SELECT a1.vec_id, a1.scid, cs.cid,
               list_sum([(a1.v[i]-cs.cv[i])*(a1.v[i]-cs.cv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM a1 JOIN cs ON cs.scid = a1.scid)
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY dist, cid) = 1)
         SELECT scid, count(*) AS vecs,
           count(DISTINCT cid) AS cells,
           CAST(sum(CAST(round(dist * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_dist_micro
         FROM a2 GROUP BY scid"""),

    // Scalar quantization (SQ8, the FAISS IndexScalarQuantizer path):
    // train per-DIMENSION min/max over the corpus, encode every
    // coordinate to 8 bits — 8× smaller than float64 storage, the
    // compression tier between raw vectors and PQ (t28's 2-code
    // extreme). Everything is integer-exact cross-engine: coordinates
    // micro-quantize first, codes are pure integer division, and the
    // reconstruction is the bin midpoint in integer micros. Scale
    // shape: the trainer is a posexplode → per-dim partial min/max (a
    // 64-row shuffle regardless of corpus size), the encode is
    // map-side against the one-row broadcast stats, and the corpus
    // never shuffles. Output pins every code: positional weighting
    // (Σ code·dim) catches swaps a plain sum would mask; err_sum is
    // the quantizer's own distortion audit (Σ(v − recon)² in µ²).
    Query("t140_sq8_encode", (s, dir) =>
      sq8Encoded(s, dir)
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x)
            .as("code_sum"),
          aggregate(sequence(lit(1), lit(64)), lit(0L), (a, i) =>
            a + element_at(col("codes"), i) * i).as("poscode_sum"),
          graft.functions.VectorExpressions
            .sqDistLong(col("vu"), sq8ReconArrFromVu).as("err_sum")),
      // SQ8 twins: the same micro-quantized corpus, per-dim min/max
      // trainer, integer codes, and bin-midpoint reconstruction —
      // every operation integer, so codes/distances replay bit-exactly.
      s"""WITH $sq8BaseSql
         SELECT vec_id,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           CAST(list_sum([codes[i] * i
                          FOR i IN generate_series(1, 64)]) AS BIGINT)
             AS poscode_sum,
           CAST(list_sum([(vu[i] - ${sq8ReconSql("codes")}) *
                          (vu[i] - ${sq8ReconSql("codes")})
                          FOR i IN generate_series(1, 64)]) AS BIGINT)
             AS err_sum
         FROM enc"""),

    // SQ8 asymmetric-distance search (the ADC query path over t140's
    // codes): the query keeps its exact (micro-quantized) vector,
    // each corpus vector is scored at its reconstruction — top-5 per
    // probe by (distance, id), distances in integer µ² so the oracle
    // replays them bit-exactly. The scan reads CODES, not vectors
    // (the point of SQ8 at 100 TB); probes broadcast, the per-query
    // top-k is the t4/t9 window-limit shape.
    Query("t141_sq8_adc", (s, dir) => {
      val enc = sq8Encoded(s, dir)
      val q = enc.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vu").as("qu"))
        .localCheckpoint(false) // tiny probe set; hide the stats hint
      // reconstruction once per corpus row (below the probe join),
      // then the single-pass integer kernel per pair — ≡ the old
      // per-pair recon fold (SketchExprSpec), ~10× less recon work
      val scored = enc.withColumn("__ru", sq8ReconArrFromVu)
        .crossJoin(broadcast(q))
        .where(col("qid") =!= col("vec_id"))
        .withColumn("adc", graft.functions.VectorExpressions
          .sqDistLong(col("qu"), col("__ru")))
      val w = Window.partitionBy("qid")
        .orderBy(col("adc"), col("vec_id"))
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 5)
        .select(col("qid"), col("vec_id"), col("adc"), col("rn"))
    },
      s"""WITH $sq8BaseSql,
         q AS (SELECT vec_id AS qid, vu AS qu FROM e
               WHERE vec_id < 10),
         sc AS (
           SELECT q.qid, enc.vec_id,
             CAST(list_sum([(q.qu[i] - ${sq8ReconSql("enc.codes")}) *
                            (q.qu[i] - ${sq8ReconSql("enc.codes")})
                            FOR i IN generate_series(1, 64)]) AS BIGINT)
               AS adc
           FROM enc, q WHERE q.qid <> enc.vec_id)
         SELECT qid, vec_id, adc, rn FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY adc, vec_id) AS rn
           FROM sc) z
         WHERE rn <= 5"""),

    // SQ8 recall@5 — the t60 discipline (every approximate path ships
    // with its measured recall): ADC top-5 vs the EXACT top-5 by the
    // same integer-micro L2 on the uncompressed vectors, per query.
    // Both sides integer-exact, so the recall itself is hash-stable.
    Query("t142_sq8_recall", (s, dir) => {
      val enc = sq8Encoded(s, dir)
      val q = enc.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vu").as("qu"))
        .localCheckpoint(false)
      def top5(scoredD: DataFrame): DataFrame = {
        val w = Window.partitionBy("qid")
          .orderBy(col("__d"), col("vec_id"))
        scoredD.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5).select(col("qid"), col("vec_id"))
      }
      // both sides score through the single-pass integer kernel (≡ the
      // index-order long folds, SketchExprSpec); the ADC side
      // reconstructs once per corpus row below the probe join instead
      // of once per (query, row) pair
      val exact = top5(enc.crossJoin(broadcast(q))
        .where(col("qid") =!= col("vec_id"))
        .withColumn("__d", graft.functions.VectorExpressions
          .sqDistLong(col("qu"), col("vu"))))
      val approx = top5(enc.withColumn("__ru", sq8ReconArrFromVu)
        .crossJoin(broadcast(q))
        .where(col("qid") =!= col("vec_id"))
        .withColumn("__d", graft.functions.VectorExpressions
          .sqDistLong(col("qu"), col("__ru"))))
      exact
        .join(approx.withColumn("__hit", lit(1)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_ppm", expr("hits * 1000000 DIV 5"))
    },
      s"""WITH $sq8BaseSql,
         q AS (SELECT vec_id AS qid, vu AS qu FROM e
               WHERE vec_id < 10),
         exd AS (
           SELECT q.qid, e2.vec_id,
             CAST(list_sum([(q.qu[i] - e2.vu[i]) * (q.qu[i] - e2.vu[i])
                            FOR i IN generate_series(1, 64)]) AS BIGINT)
               AS dd
           FROM e e2, q WHERE q.qid <> e2.vec_id),
         ext AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY dd, vec_id) AS rn FROM exd) z
           WHERE rn <= 5),
         apd AS (
           SELECT q.qid, enc.vec_id,
             CAST(list_sum([(q.qu[i] - ${sq8ReconSql("enc.codes")}) *
                            (q.qu[i] - ${sq8ReconSql("enc.codes")})
                            FOR i IN generate_series(1, 64)]) AS BIGINT)
               AS dd
           FROM enc, q WHERE q.qid <> enc.vec_id),
         apt AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY dd, vec_id) AS rn FROM apd) z
           WHERE rn <= 5)
         SELECT ext.qid,
           CAST(count(apt.vec_id) AS BIGINT) AS hits,
           CAST(count(apt.vec_id) * 1000000 // 5 AS BIGINT)
             AS recall_ppm
         FROM ext LEFT JOIN apt USING (qid, vec_id)
         GROUP BY 1"""),

    // IVF-PQ composite search (FAISS IndexIVFPQ — the structure a
    // production 100 TB ANN deployment actually runs, assembling the
    // engine's existing pieces end to end): coarse-quantize to q36's
    // 16 seed cells, PQ-encode the RESIDUAL v − centroid (residual
    // codes carry ~the cell's local geometry — the reason IVFPQ beats
    // plain PQ at equal bits), store only (cell, 8 codes); search
    // probes the 2 nearest cells and ADC-scores just their postings
    // against the query's per-cell residual, at the CORPUS-SCALED
    // operating point (cells = max(16, n/256) through the floor
    // dispatch, nProbe = max(2, ceil(sqrt(k)/2)), codebook = a
    // strided residual sample — see ivfPqApprox). Distances replay
    // exactly: same index-order double folds both engines, ties on
    // ids.
    Query("t143_ivfpq_search", (s, dir) => ivfPqApprox(s, dir),
      // IVF-PQ composite twins: the full index build + probe replayed
      // (coarse argmin → residuals → per-subspace residual codes →
      // reconstruction → cell-restricted ADC), distances as the same
      // index-order double folds, ties on ids.
      s"""WITH $ivfPqBaseSql
         SELECT qid, vec_id, round(dist, 6) AS adc,
           row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
             AS rn
         FROM sadc QUALIFY rn <= 5"""),

    // IVF-PQ recall@5 at BOTH production operating points (t60/t92
    // discipline): raw ADC top-5 (probe misses + quantization noise
    // compound — measured ~20-30 % on this unstructured corpus, where
    // the true top-5 are near-ties ADC cannot order), and the
    // REFINED point (FAISS IndexRefineFlat: ADC top-50 candidates
    // reranked by exact distance — the standard fix at the usual
    // k_factor=10; only the ≤50 candidate vectors per query are ever
    // read exactly, which is the bounded-I/O contract that matters
    // at 100 TB. Measured r18: probe ceiling at the scaled nProbe is
    // 50/50 at sf0.1, and the true top-5's ADC ranks reach 151 —
    // the refine pool, not the probe list, was the 90%→54% sf0.1
    // recall cliff r17 recorded).
    Query("t144_ivfpq_recall", (s, dir) => {
      val e = T(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
        .localCheckpoint(false)
      val w = Window.partitionBy("qid")
        .orderBy(col("__d"), col("vec_id"))
      def top5(scored: DataFrame): DataFrame =
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5).select(col("qid"), col("vec_id"))
      val exact = top5(e.crossJoin(broadcast(q))
        .where(col("qid") =!= col("vec_id"))
        .withColumn("__d", Vectors.sqDist(col("qv"), col("v"))))
        .localCheckpoint(false) // two recall joins read it
      // ONE k=50 ADC ranking serves both points: its rank-5 prefix
      // IS the ADC top-5 (same ordering), the full 50 feed refine
      val cand50 = ivfPqApprox(s, dir, k = 50).localCheckpoint(false)
      val adc5 = cand50.where(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val refined = top5(cand50.select("qid", "vec_id")
        .join(e, Seq("vec_id")) // bounded candidates; AQE broadcasts
        .join(broadcast(q), Seq("qid"))
        .withColumn("__d", Vectors.sqDist(col("qv"), col("v"))))
      def recallOf(got: DataFrame, hitsCol: String): DataFrame =
        exact.join(got.withColumn("__hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("__hit"), lit(0))).cast("long")
            .as(hitsCol))
      recallOf(adc5, "hits_adc")
        .join(recallOf(refined, "hits_ref"), Seq("qid"))
        .withColumn("recall_adc_ppm", expr("hits_adc * 1000000 DIV 5"))
        .withColumn("recall_ref_ppm", expr("hits_ref * 1000000 DIV 5"))
    },
      s"""WITH $ivfPqBaseSql,
         ap50 AS MATERIALIZED (
           SELECT qid, vec_id, rn FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY dist, vec_id) AS rn FROM sadc) z
           WHERE rn <= 50),
         apt AS (SELECT qid, vec_id FROM ap50 WHERE rn <= 5),
         rft AS (
           SELECT qid, vec_id FROM (
             SELECT a.qid, a.vec_id,
               row_number() OVER (PARTITION BY a.qid ORDER BY
                 list_sum([(q.qv[i] - e2.v[i]) * (q.qv[i] - e2.v[i])
                           FOR i IN generate_series(1, 64)]),
                 a.vec_id) AS rn
             FROM ap50 a JOIN e e2 ON e2.vec_id = a.vec_id
               JOIN q ON q.qid = a.qid) z
           WHERE rn <= 5),
         exd AS (
           SELECT q.qid, e2.vec_id,
             list_sum([(q.qv[i] - e2.v[i]) * (q.qv[i] - e2.v[i])
                       FOR i IN generate_series(1, 64)]) AS dd
           FROM e e2, q WHERE q.qid <> e2.vec_id),
         ext AS MATERIALIZED (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY dd, vec_id) AS rn FROM exd) z
           WHERE rn <= 5),
         ra AS (
           SELECT ext.qid, CAST(count(apt.vec_id) AS BIGINT)
             AS hits_adc
           FROM ext LEFT JOIN apt USING (qid, vec_id) GROUP BY 1),
         rr AS (
           SELECT ext.qid, CAST(count(rft.vec_id) AS BIGINT)
             AS hits_ref
           FROM ext LEFT JOIN rft USING (qid, vec_id) GROUP BY 1)
         SELECT qid, hits_adc, hits_ref,
           CAST(hits_adc * 1000000 // 5 AS BIGINT) AS recall_adc_ppm,
           CAST(hits_ref * 1000000 // 5 AS BIGINT) AS recall_ref_ppm
         FROM ra JOIN rr USING (qid)"""),

    // IVF+SQ8 composite search (FAISS IndexIVFScalarQuantizer
    // QT_8bit — r17 verdict #6: t140-142's scalar quantizer existed
    // standalone; the production tier stores SQ8 codes keyed by the
    // coarse cell and ADC-scores probed cells only). Corpus-scaled
    // cells/nProbe through the floor dispatch like t143; distances
    // in integer µ² replay bit-exactly.
    Query("t145_ivfsq8_search", (s, dir) => ivfSq8Approx(s, dir),
      // IVF+SQ8 composite twins: t140's encode + the corpus-scaled
      // floor-dispatched assignment/probes + cell-restricted
      // integer-micro ADC — bit-exact replay.
      s"""WITH $ivfSq8BaseSql
         SELECT qid, vec_id, adc, rn FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY adc, vec_id) AS rn
           FROM ssc) z
         WHERE rn <= 5"""),

    // IVF+SQ8 recall@5 vs the exact integer-micro top-5 (the t60/
    // t142 discipline: every approximate path ships with measured
    // recall). The IVF restriction adds probe misses on top of
    // t142's reconstruction noise; at the scaled operating point the
    // probe ceiling is ~92 % (sf0.01) / 100 % (sf0.1) — see t144's
    // r18 measurement — and SQ8's near-exact reconstruction keeps
    // the composite close to that ceiling (unlike PQ, no refine
    // stage is needed).
    Query("t146_ivfsq8_recall", (s, dir) => {
      val enc = sq8Encoded(s, dir)
      val q = enc.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vu").as("qu"))
        .localCheckpoint(false)
      val exact = enc.crossJoin(broadcast(q))
        .where(col("qid") =!= col("vec_id"))
        // single-pass integer kernel ≡ the long fold (SketchExprSpec)
        .withColumn("__d", graft.functions.VectorExpressions
          .sqDistLong(col("qu"), col("vu")))
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("__d"), col("vec_id"))))
        .where(col("rn") <= 5).select(col("qid"), col("vec_id"))
      val approx = ivfSq8Approx(s, dir, k = 5)
        .select(col("qid"), col("vec_id"))
      exact
        .join(approx.withColumn("__hit", lit(1)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("hits"))
        .withColumn("recall_ppm", expr("hits * 1000000 DIV 5"))
    },
      s"""WITH $ivfSq8BaseSql,
         exd AS (
           SELECT q.qid, e2.vec_id,
             CAST(list_sum([(q.qu[i] - e2.vu[i]) * (q.qu[i] - e2.vu[i])
                            FOR i IN generate_series(1, 64)]) AS BIGINT)
               AS dd
           FROM e e2, q WHERE q.qid <> e2.vec_id),
         ext AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY dd, vec_id) AS rn FROM exd) z
           WHERE rn <= 5),
         apt AS (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY adc, vec_id) AS rn FROM ssc) z
           WHERE rn <= 5)
         SELECT ext.qid,
           CAST(count(apt.vec_id) AS BIGINT) AS hits,
           CAST(count(apt.vec_id) * 1000000 // 5 AS BIGINT)
             AS recall_ppm
         FROM ext LEFT JOIN apt USING (qid, vec_id)
         GROUP BY 1"""),

    // IVF probe search: approximate top-5 by cosine probing the 2
    // nearest of 16 cells per query — the query path over the q36
    // coarse quantizer. Exact within probed cells (the oracle replays
    // the same probe), candidate scoring is an equi-join on cell id.
    Query("t9_ivf_probe", (s, dir) => {
      val e = T(s, dir, "embeddings")
      // MEASURED (r16): one Lloyd round over these 16 seeds HURTS
      // probe recall on this unstructured corpus (t60: 0.92 → 0.86
      // at sf0.01, 0.98 → 0.96 at sf0.1) — with small fixed k and no
      // locality structure, re-centering pulls cells toward the data
      // mean and splits query neighborhoods. Seeds stay. The bitext
      // miner (corpus-scaled k, mid-similarity operating point)
      // measures the OPPOSITE and trains its cells — see
      // bitextCellCandidates.
      val cent = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      Vectors.ivfProbeTopK(q, e, cent, "qid", "vec_id", "cid",
        "embedding", k = 5, nProbe = 2)
    },
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         asg AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               list_sum([(v[i]-cv[i])*(v[i]-cv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM e, c)
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY dist, cid) = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
               list_sum([(qv[i]-cv[i])*(qv[i]-cv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM q, c)
           QUALIFY row_number() OVER (PARTITION BY qid
             ORDER BY dist, cid) <= 2),
         s AS (
           SELECT p.qid, e.vec_id,
             list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
             AS csim
           FROM probes p
           JOIN asg a ON a.cid = p.cid
           JOIN e ON e.vec_id = a.vec_id
           WHERE p.qid <> e.vec_id)
         SELECT qid, vec_id, round(csim, 6) AS cos,
           row_number() OVER (PARTITION BY qid ORDER BY csim DESC, vec_id)
             AS rn
         FROM s QUALIFY rn <= 5"""),

    // IVF+SQ8 with an exact refine tier (r18 verdict #7 — t144's
    // IndexRefineFlat pattern composed onto the SQ8 composite): ONE
    // ADC ranking at k=50 serves both measured points — its rank-5
    // prefix IS the ADC top-5, and the full 50 get reranked by the
    // exact integer-micro distance (bounded I/O: 50 candidates per
    // query re-read their vu, nothing corpus-sized moves). Closes
    // the gap between t146's ADC recall and the probe ceiling where
    // SQ8's reconstruction noise flips near-boundary ranks.
    Query("t148_ivfsq8_refine", (s, dir) => {
      val enc = sq8Encoded(s, dir).localCheckpoint(false)
      val q = enc.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("vu").as("qu"))
        .localCheckpoint(false)
      // single-pass integer kernel ≡ the long fold (SketchExprSpec)
      def microD: Column = graft.functions.VectorExpressions
        .sqDistLong(col("qu"), col("vu"))
      val w = Window.partitionBy("qid")
        .orderBy(col("__d"), col("vec_id"))
      def top5(scored: DataFrame): DataFrame =
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5).select(col("qid"), col("vec_id"))
      val exact = top5(enc.crossJoin(broadcast(q))
        .where(col("qid") =!= col("vec_id"))
        .withColumn("__d", microD))
        .localCheckpoint(false) // two recall joins read it
      val cand50 = ivfSq8Approx(s, dir, k = 50).localCheckpoint(false)
      val adc5 = cand50.where(col("rn") <= 5)
        .select(col("qid"), col("vec_id"))
      val refined = top5(cand50.select("qid", "vec_id")
        .join(enc.select("vec_id", "vu"), Seq("vec_id"))
        .join(broadcast(q), Seq("qid"))
        .withColumn("__d", microD))
      def recallOf(got: DataFrame, hitsCol: String): DataFrame =
        exact.join(got.withColumn("__hit", lit(1)),
            Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(sum(coalesce(col("__hit"), lit(0))).cast("long")
            .as(hitsCol))
      recallOf(adc5, "hits_adc")
        .join(recallOf(refined, "hits_ref"), Seq("qid"))
        .withColumn("recall_adc_ppm", expr("hits_adc * 1000000 DIV 5"))
        .withColumn("recall_ref_ppm", expr("hits_ref * 1000000 DIV 5"))
    },
      // refine tier: one k=50 ADC ranking; rank-5 prefix = the ADC
      // point, the 50 rerank by the exact integer-micro distance
      s"""WITH $ivfSq8BaseSql,
         ap50 AS MATERIALIZED (
           SELECT qid, vec_id, rn FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY adc, vec_id) AS rn FROM ssc) z
           WHERE rn <= 50),
         apt AS (SELECT qid, vec_id FROM ap50 WHERE rn <= 5),
         rft AS (
           SELECT qid, vec_id FROM (
             SELECT a.qid, a.vec_id,
               row_number() OVER (PARTITION BY a.qid ORDER BY
                 CAST(list_sum([(q.qu[i] - e2.vu[i]) *
                                (q.qu[i] - e2.vu[i])
                                FOR i IN generate_series(1, 64)])
                   AS BIGINT),
                 a.vec_id) AS rn
             FROM ap50 a JOIN enc e2 ON e2.vec_id = a.vec_id
               JOIN q ON q.qid = a.qid) z
           WHERE rn <= 5),
         exd AS (
           SELECT q.qid, e2.vec_id,
             CAST(list_sum([(q.qu[i] - e2.vu[i]) * (q.qu[i] - e2.vu[i])
                            FOR i IN generate_series(1, 64)]) AS BIGINT)
               AS dd
           FROM enc e2, q WHERE q.qid <> e2.vec_id),
         ext AS MATERIALIZED (
           SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY dd, vec_id) AS rn FROM exd) z
           WHERE rn <= 5),
         ra AS (
           SELECT ext.qid, CAST(count(apt.vec_id) AS BIGINT)
             AS hits_adc
           FROM ext LEFT JOIN apt USING (qid, vec_id) GROUP BY 1),
         rr AS (
           SELECT ext.qid, CAST(count(rft.vec_id) AS BIGINT)
             AS hits_ref
           FROM ext LEFT JOIN rft USING (qid, vec_id) GROUP BY 1)
         SELECT qid, hits_adc, hits_ref,
           CAST(hits_adc * 1000000 // 5 AS BIGINT) AS recall_adc_ppm,
           CAST(hits_ref * 1000000 // 5 AS BIGINT) AS recall_ref_ppm
         FROM ra JOIN rr USING (qid)"""),

    // Index-quality measurement: recall@5 of the IVF probe (t9) vs the
    // exact brute-force baseline (t4), per query — the metric that
    // picks nProbe/cell-count at scale. At 100 TB the exact side runs
    // over a SAMPLED query set (as here: 10 queries), never the corpus:
    // recall estimation cost is queries × corpus, independent of index
    // size. A left join from exact to approx keeps 0-recall queries.
    Query("t60_ivf_recall", (s, dir) => {
      val e = T(s, dir, "embeddings")
      // the same seed cells as t9 (t60 measures t9's index; the
      // Lloyd-round trade is measured in t9's comment)
      val cent = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      val exact = Vectors.bruteForceTopK(q, e, "qid", "vec_id",
        "embedding", k = 5).select(col("qid"), col("vec_id"))
      val approx = Vectors.ivfProbeTopK(q, e, cent, "qid", "vec_id",
        "cid", "embedding", k = 5, nProbe = 2)
        .select(col("qid"), col("vec_id"))
      exact
        .join(approx.withColumn("__hit", lit(1)), Seq("qid", "vec_id"),
          "left")
        .groupBy("qid")
        .agg(round(sum(coalesce(col("__hit"), lit(0))).cast("double") /
          count(lit(1)), 6).as("recall_at_5"))
    },
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         xs AS (
           SELECT qid, vec_id,
             list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
             AS cs
           FROM e, q WHERE qid <> vec_id),
         exact AS (
           SELECT qid, vec_id FROM xs
           QUALIFY row_number() OVER (PARTITION BY qid
             ORDER BY cs DESC, vec_id) <= 5),
         c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         asg AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               list_sum([(v[i]-cv[i])*(v[i]-cv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM e, c)
           QUALIFY row_number() OVER (PARTITION BY vec_id
             ORDER BY dist, cid) = 1),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid,
               list_sum([(qv[i]-cv[i])*(qv[i]-cv[i])
                         FOR i IN generate_series(1, 64)]) AS dist
             FROM q, c)
           QUALIFY row_number() OVER (PARTITION BY qid
             ORDER BY dist, cid) <= 2),
         ap AS (
           SELECT p.qid, e.vec_id,
             list_sum([qv[i]*v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([qv[i]*qv[i] FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([v[i]*v[i] FOR i IN generate_series(1,64)])))
             AS csim
           FROM probes p
           JOIN asg a ON a.cid = p.cid
           JOIN e ON e.vec_id = a.vec_id
           WHERE p.qid <> e.vec_id),
         approx AS (
           SELECT qid, vec_id FROM ap
           QUALIFY row_number() OVER (PARTITION BY qid
             ORDER BY csim DESC, vec_id) <= 5)
         SELECT x.qid,
           round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 6)
             AS recall_at_5
         FROM exact x LEFT JOIN approx a
           ON a.qid = x.qid AND a.vec_id = x.vec_id
         GROUP BY x.qid"""),

    // SemDeDup (Abbas et al. 2023): semantic dedup via cluster-scoped
    // embedding cosine. Same planted-duplicate construction as t10
    // (cosine ≈ 0.9998 twins; the organic corpus's max is 0.51), but
    // where t10 finds PAIRS via SRP-LSH, this drops duplicates via
    // the published cluster-then-pairwise shape: coarse cells bound
    // the quadratic term by cluster size. Keep-min is deterministic.
    Query("t62_semdedup", (s, dir) => {
      val e = T(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val dup = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(array(element_at(col("v"), 1) + 0.05),
          slice(col("v"), 2, 63)).as("v"))
      val corpus = e.unionByName(dup)
      // Centroid count SCALES with the corpus (r14, full-suite 100×
      // finding): 16 fixed cells put 12.5k vectors in a cluster at
      // 100× and the within-cluster pairwise term went QUADRATIC
      // (1023 s). k = max(16, n/256) bounds clusters at ~256·2
      // vectors, making the pair term linear in n — the SemDeDup
      // paper's own guidance (cluster count tracks corpus). Floor 16
      // keeps every gate-SF corpus on the historical clustering;
      // the oracle computes the same k.
      // footer-stat count (no scan job; memoized per snapshot)
      val k = math.max(16L, tableRowCount(s, dir, "embeddings") / 256L)
      val cent = e.where(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v"))
      // k rides to the assignment so a true-scale corpus (k >= the
      // hierarchical floor) routes through the two-level quantizer
      Dedup.semDedupKeep(corpus, cent, "vec_id", "cid", "v", tau = 0.99,
        k = k, dims = 64)
    },
      s"""WITH e AS MATERIALIZED (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         dup AS MATERIALIZED (
           SELECT vec_id + 100000 AS vec_id,
             list_concat([v[1] + 0.05], v[2:64]) AS v FROM e),
         corpus AS MATERIALIZED (
           SELECT * FROM e UNION ALL SELECT * FROM dup),
         kk AS MATERIALIZED (
           SELECT greatest(16, count(*) // 256) AS k FROM e),
         c AS MATERIALIZED (
           SELECT vec_id AS cid, v AS cv FROM e, kk
           WHERE vec_id < kk.k),
         ${scaledAssignSql("t", "corpus", "c", "(SELECT k FROM kk)")},
         asg AS MATERIALIZED (SELECT vec_id, v, cid FROM tasg),
         dropped AS (
           SELECT DISTINCT a.vec_id
           FROM asg a JOIN asg b
             ON a.cid = b.cid AND b.vec_id < a.vec_id
           WHERE
             list_sum([a.v[i]*b.v[i] FOR i IN generate_series(1,64)]) /
             (sqrt(list_sum([a.v[i]*a.v[i]
                             FOR i IN generate_series(1,64)])) *
              sqrt(list_sum([b.v[i]*b.v[i]
                             FOR i IN generate_series(1,64)]))) >= 0.99)
         SELECT a.vec_id, a.cid
         FROM asg a LEFT JOIN dropped d ON d.vec_id = a.vec_id
         WHERE d.vec_id IS NULL"""),

    // Product-quantization encode: 64-dim vectors → 8 codes (one per
    // 8-dim subspace, nearest of the 16 seed sub-centroids, ties →
    // smallest code). Fully map-side — broadcast codebook + argmin
    // kernel per subspace; at 100 TB the index payload shrinks 32×
    // (8 bytes of codes vs 256 bytes of floats). Long-form
    // (vec_id, subspace, code) for the oracle.
    Query("t28_pq_encode", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val cb = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding"))
      Vectors.pqEncode(e, cb, "vec_id", "cid", "embedding",
        m = 8, dims = 64)
        .select(col("vec_id"), posexplode(col("codes")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
          col("col").as("code"))
    },
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         d AS (
           SELECT e.vec_id, j, cb.cid,
             list_sum([(e.v[(j-1)*8+i] - cb.cv[(j-1)*8+i])
                       * (e.v[(j-1)*8+i] - cb.cv[(j-1)*8+i])
                       FOR i IN generate_series(1, 8)]) AS dist
           FROM e, cb, unnest(generate_series(1, 8)) AS u(j))
         SELECT vec_id, CAST(j AS BIGINT) AS j, cid AS code
         FROM d
         QUALIFY row_number()
           OVER (PARTITION BY vec_id, j ORDER BY dist, cid) = 1"""),

    // PQ asymmetric-distance search: exact queries scored against the
    // CODES-only corpus (each doc vector stands in as its codebook
    // reconstruction) — the scan half of IVF-PQ. Corpus side carries
    // 8 codes/row, never the vectors; queries + codebook broadcast.
    Query("t29_pq_adc", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val cb = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding"))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding"))
      val enc = Vectors.pqEncode(e, cb, "vec_id", "cid", "embedding",
        m = 8, dims = 64)
      Vectors.pqAdcTopK(q, enc, cb, "qid", "vec_id", "cid", "embedding",
        "codes", m = 8, dims = 64, k = 5)
    },
      """WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
           FROM embeddings),
         cb AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         d AS (
           SELECT e.vec_id, j, cb.cid,
             list_sum([(e.v[(j-1)*8+i] - cb.cv[(j-1)*8+i])
                       * (e.v[(j-1)*8+i] - cb.cv[(j-1)*8+i])
                       FOR i IN generate_series(1, 8)]) AS dist
           FROM e, cb, unnest(generate_series(1, 8)) AS u(j)),
         codes AS (
           SELECT vec_id, j, cid FROM d
           QUALIFY row_number()
             OVER (PARTITION BY vec_id, j ORDER BY dist, cid) = 1),
         recon AS (
           SELECT c.vec_id,
             flatten(list(b.cv[(c.j-1)*8+1:(c.j-1)*8+8] ORDER BY c.j))
               AS rv
           FROM codes c JOIN cb b ON b.cid = c.cid
           GROUP BY c.vec_id),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         s AS (
           SELECT q.qid, r.vec_id,
             list_sum([(q.qv[i] - r.rv[i]) * (q.qv[i] - r.rv[i])
                       FOR i IN generate_series(1, 64)]) AS dist
           FROM recon r, q WHERE q.qid <> r.vec_id)
         SELECT qid, vec_id, round(dist, 6) AS adc,
           row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
             AS rn
         FROM s QUALIFY rn <= 5"""),

    // Embedding-space covariance (anisotropy / whitening diagnostic):
    // ONE corpus pass through a custom mergeable TypedImperativeAggregate
    // (VecCovarianceAgg) whose state is d(d+1)/2+d+1 doubles per
    // partition — the declarative twin (posexplode ×d² + 4096-group
    // agg) would multiply every row by d² before the partial agg. The
    // d×d output explodes into (i, j, cov) rows only AFTER the
    // aggregate, driver-sized. Retrieval stacks use this matrix to
    // whiten embeddings before cosine search.
    Query("t48_embed_covariance", (s, dir) => {
      val d = 64
      T(s, dir, "embeddings")
        .agg(graft.functions.AggregateExpressions
          .vecCovariance(col("embedding"), d).as("m"))
        .select(posexplode(col("m")).as(Seq("k", "c")))
        .select(expr(s"CAST(k DIV $d AS BIGINT)").as("i"),
          (col("k") % d).cast("long").as("j"),
          // + 0.0 folds IEEE −0.0 to +0.0 (a −1e-9 cell rounds to
          // −0.0; the engines' string forms differ and break the
          // driver's canonicalized compare)
          (round(col("c"), 6) + 0.0).as("cov"))
    },
      """WITH e AS (
           SELECT vec_id, unnest(embedding) AS v,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings)
         SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.i - 1 AS BIGINT) AS j,
           round(avg(a.v::DOUBLE * b.v::DOUBLE)
                 - avg(a.v::DOUBLE) * avg(b.v::DOUBLE), 6) + 0.0 AS cov
         FROM e a JOIN e b USING (vec_id)
         GROUP BY 1, 2"""),

    // Embedding whitening (diagonal / z-score): standardize every
    // dimension against corpus-wide moments — the preprocessing step
    // that makes cosine retrieval robust to anisotropic embedding
    // spaces (t48's covariance shows the anisotropy; this removes the
    // per-dim scale component). The d-sized stats row broadcasts
    // (crossJoin of ONE row — never a shuffle of the corpus) and the
    // standardization itself is a map-side zip over each vector.
    // Output long-form (vec_id, dim, z) for the oracle; a pipeline
    // would keep the whitened array column.
    Query("t50_embed_whiten", (s, dir) => {
      val e = T(s, dir, "embeddings")
      val stats = e
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(avg(col("v")).as("mu"), stddev_pop(col("v")).as("sd"))
        .agg(collect_list(struct(col("dim"), col("mu"), col("sd")))
          .as("__st"))
        .select(array_sort(col("__st")).as("__st"))
        .select(transform(col("__st"), s => s("mu")).as("mus"),
          transform(col("__st"), s => s("sd")).as("sds"))
      e.crossJoin(broadcast(stats))
        .select(col("vec_id"), posexplode(
          zip_with(
            zip_with(col("embedding"), col("mus"),
              (x, m) => x.cast("double") - m),
            // degenerate (constant) dims have no z-score: null here,
            // filtered below — mirrors the oracle's sd > 0 guard
            col("sds"), (c, sd) => when(sd > 0, c / sd))).as(Seq("dim", "z")))
        .where(col("z").isNotNull)
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          (round(col("z"), 6) + 0.0).as("z"))
    },
      """WITH u AS (SELECT vec_id, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS i FROM embeddings),
         st AS (SELECT i, avg(v::DOUBLE) AS mu, stddev_pop(v::DOUBLE) AS sd
                FROM u GROUP BY i)
         SELECT vec_id, CAST(u.i - 1 AS BIGINT) AS dim,
           round((u.v::DOUBLE - mu) / sd, 6) + 0.0 AS z
         FROM u JOIN st USING (i) WHERE sd > 0"""),
  )
}
