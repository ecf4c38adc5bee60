package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: a broadcast of the
  * (small) query set against the corpus — the corpus side never shuffles,
  * each partition emits its local candidates and only the per-query top-k
  * shuffles for the final rank. The scale path is sign-random-projection
  * LSH: vectors map to a b-bit bucket map-side, candidate search touches
  * one bucket (± neighbors by Hamming distance).
  *
  * All arithmetic is double-precision folds in array-index order, so an
  * external engine reproduces the values bit-for-bit.
  */
object Vectors {

  /** The single-pass kernels of `functions.VectorExpressions`,
    * bit-identical to the declarative index-order folds (equivalence:
    * SketchExprSpec). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  /** Exact top-k neighbors by cosine for each query vector.
    * `queries`: (qidCol, vector) — small, broadcast. `corpus`:
    * (idCol, vector). Self-matches (qid == id) are excluded; ties break
    * on the neighbor id for determinism. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qidCol: String, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(qidCol), col(vecCol).as("__qv"))
    val scored = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(q))
      .where(col(qidCol) =!= col(idCol))
      .withColumn("__cos", cosine(col("__qv"), col(vecCol)))
      // a zero-norm vector's cosine is 0/0 = NaN, and Spark sorts NaN
      // LARGEST — without this filter one garbage embedding heads
      // every query's top-k (null = the kernel's length-mismatch
      // convention; drop both, they are non-neighbors)
      .where(!isnan(col("__cos")))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("__cos").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col(qidCol), col(idCol), round(col("__cos"), 6).as("cos"),
        col("rn"))
  }

  /** Squared euclidean distance, index-order fold (portable). */
  def sqDistDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.sqDist(a, b)

  /** All centroids folded into ONE broadcast row: array<struct<cid,cv>>.
    * (cid cast long, cv cast double — the distance arithmetic's types.) */
  private def centroidArray(centroids: DataFrame, cidCol: String,
                            vecCol: String): DataFrame =
    broadcast(centroids.groupBy().agg(collect_list(struct(
      col(cidCol).cast("long").as("cid"),
      transform(col(vecCol), x => x.cast("double")).as("cv")))
      .as("__cents")))

  /** IVF cell assignment with the vector retained: (id, vec, cid).
    * Fully MAP-SIDE — the centroid set broadcasts as one array row and a
    * single-pass argmin kernel scores it per corpus row: no per-candidate
    * row explosion, no argmin shuffle, corpus never moves. (The kernel is
    * order-insensitive with ties to the smallest cid, so collect_list's
    * assembly order cannot change the answer.) This is the coarse
    * quantizer of an IVF index; search probes one (or few) cells. */
  def ivfAssignWithVec(corpus: DataFrame, centroids: DataFrame,
                       idCol: String, cidCol: String,
                       vecCol: String): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(centroidArray(centroids, cidCol, vecCol))
      .select(col(idCol), col(vecCol),
        graft.functions.VectorExpressions
          .argminCentroid(col(vecCol), col("__cents")).as(cidCol))

  /** IVF cell assignment: nearest centroid by squared distance (ties →
    * smallest centroid id). */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
                idCol: String, cidCol: String, vecCol: String): DataFrame =
    ivfAssignWithVec(corpus, centroids, idCol, cidCol, vecCol)
      .select(col(idCol), col(cidCol))

  // ---- Hierarchical (two-level) coarse quantizer -------------------
  //
  // The flat assignment above scans ALL k centroids per corpus row from
  // ONE broadcast collect_list row. With corpus-scaled cell counts
  // (k = n/256, t62's discipline) that is O(n·k) = O(n²/256) total work,
  // and the single centroid row crosses the 2 GB row/broadcast ceiling
  // near k ≈ 4M (n ≈ 1e9 vectors) — far below a 100 TB corpus. The
  // production shape (FAISS's IVF_HNSW/IVF²) is a two-level quantizer:
  // route each row to one of g = ⌈√k⌉ SUPER-cells via one flat argmin
  // over g supers, then argmin only that super's ~k/g children —
  // O(n·(g + k/g)) = O(n·2√k) work, and the centroid set lives in a
  // g-row broadcast TABLE keyed by super-cell (each row O(√k·dims)),
  // never one array row. Crossover: per-row cost g + k/g beats k once
  // k > ~4; the flat path stays the default below HierarchicalFloor
  // because there it is BOTH exact (two-level routing is approximate:
  // the true nearest child can live in a non-nearest super) and free of
  // the level-2 join — at k = 1024 the hierarchy already scans 16×
  // fewer centroids (64 vs 1024), at k = 4M it is 1000× (4096 vs 4M).

  /** Below this cell count the flat single-level scan is both exact and
    * cheaper (no level-2 join, no probe window); every gate-SF corpus
    * (n ≤ 200k → k ≤ 781 under the n/256 rule) stays on the historical
    * flat assignment, so the hierarchy changes no tracked hash.
    *
    * `SPARK_GRAFT_HIER_FLOOR` overrides it for VALIDATION runs only:
    * both the Spark dispatch and the SQL oracle twins interpolate this
    * value, so a floored run (e.g. 16) exercises the above-floor
    * hierarchical branch of BOTH engines at gate scale and
    * hash-compares them — the cheap way to keep the 100×-only code
    * path oracle-gated every round (r16 advice #1). The driver never
    * sets it, so every tracked gate hash stays on the default. */
  val HierarchicalFloor: Long =
    sys.env.get("SPARK_GRAFT_HIER_FLOOR") match {
      case None => 1024L
      case Some(raw) =>
        val v = scala.util.Try(raw.trim.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_HIER_FLOOR must be a positive integer, " +
              s"got '$raw'"))
        require(v > 0,
          s"SPARK_GRAFT_HIER_FLOOR must be positive, got $v")
        v
    }

  /** Super-cell count for k cells: ⌈√k⌉ equalizes the two scan terms
    * (g supers + k/g children per row). */
  def hierGroups(k: Long): Int = math.ceil(math.sqrt(k.toDouble)).toInt

  /** The two broadcast halves of the hierarchical index:
    * (supersArr, children). Supers are the g smallest-cid centroids
    * (the `kmeans` seeding idiom — deterministic, replayable in SQL);
    * every centroid is then assigned to its nearest super by the same
    * flat argmin (O(k·g), map-side over the centroid table, never the
    * corpus). `supersArr` is the g-entry array row for level-1 routing;
    * `children` is the broadcast TABLE (scid → array<struct<cid,cv>>)
    * for level-2 — per-row size O(√k·dims), never the whole model.
    * Every super is its own nearest super (dist 0, tie to itself unless
    * a duplicate-vector super with a smaller cid exists — in which case
    * the duplicate's group is empty AND unroutable-to, consistently on
    * both levels), so no corpus row routes to a childless group. */
  private def hierIndex(centroids: DataFrame, g: Int, cidCol: String,
                        vecCol: String, dims: Int)
      : (DataFrame, DataFrame) = {
    val cd = centroids.select(col(cidCol).cast("long").as(cidCol),
      transform(col(vecCol), x => x.cast("double")).as(vecCol))
    val supers = cd.orderBy(col(cidCol)).limit(g)
      .select(col(cidCol).as("__scid"), col(vecCol))
    val supersArr = broadcast(supers.groupBy().agg(collect_list(struct(
      col("__scid").as("cid"), col(vecCol).as("cv"))).as("__supers")))
    val childrenTbl =
      ivfAssignWithVec(cd, supers, cidCol, "__scid", vecCol)
        .groupBy(col("__scid"))
        .agg(collect_list(struct(col(cidCol).as("cid"),
          col(vecCol).as("cv"))).as("__children"))
    // Model-replication guard (r16 verdict #2): the child table's
    // TOTAL size is the full centroid model — O(k·dims·8) bytes —
    // and the broadcast replicates it to every executor. That is
    // standard ANN practice (FAISS keeps the model on every node),
    // but at k ≈ 4M × d = 768 float64 it is ~24 GB/executor and the
    // failure mode is an opaque broadcast OOM. Estimate the bytes
    // (k ≈ g² under the ⌈√k⌉ sizing; dims from the caller when it
    // knows its vector width — every corpus-scaled call site does —
    // falling back to a limit-1 scan only when it doesn't, so sweep
    // call sites no longer pay a driver-blocking job per index
    // build) and above the
    // configurable bound fall back to a SHUFFLE join on the super id:
    // the corpus pays one exchange instead of the job dying. supers
    // stay broadcast — O(√k·dims), never the model.
    val spark = centroids.sparkSession
    val maxModelBytes = spark.conf
      .get("graft.ann.maxModelBroadcastBytes", (4L << 30).toString).toLong
    val d =
      if (dims > 0) dims
      else cd.select(size(col(vecCol))).head(1)
        .headOption.map(_.getInt(0)).getOrElse(0)
    val modelBytes = g.toLong * g.toLong * (d * 8L + 48L)
    val children =
      if (modelBytes <= maxModelBytes) broadcast(childrenTbl)
      else {
        System.err.println(s"[graft] hierIndex: estimated centroid " +
          s"model ~${modelBytes >> 20} MiB exceeds " +
          s"graft.ann.maxModelBroadcastBytes=$maxModelBytes; level-2 " +
          "join falls back to shuffle on the super id")
        childrenTbl
      }
    (supersArr, children)
  }

  /** Two-level IVF assignment: (id, vec, scid, cid). Level 1 routes via
    * the argmin kernel over the g-super broadcast array (map-side);
    * level 2 is a broadcast equi-join on the super id followed by the
    * same kernel over that super's children column — the corpus never
    * shuffles. A malformed vector (length mismatch vs every super)
    * gets a null scid and rides the LEFT join through with a null cid
    * — the flat path's convention (r16 advice: the old inner join
    * silently dropped such rows, a data-loss behavior change that
    * appeared only once k crossed the floor on a variable-dim
    * corpus). */
  def ivfAssignWithVecHier(corpus: DataFrame, centroids: DataFrame,
                           g: Int, idCol: String, cidCol: String,
                           vecCol: String, dims: Int = -1): DataFrame = {
    val (supersArr, children) =
      hierIndex(centroids, g, cidCol, vecCol, dims)
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(supersArr)
      .select(col(idCol), col(vecCol),
        graft.functions.VectorExpressions
          .argminCentroid(col(vecCol), col("__supers")).as("__scid"))
      .join(children, Seq("__scid"), "left")
      .select(col(idCol), col(vecCol), col("__scid").as("scid"),
        // null __children (unrouted row) → null cid via the kernel's
        // null propagation — parity with ivfAssignWithVec
        graft.functions.VectorExpressions
          .argminCentroid(col(vecCol), col("__children")).as(cidCol))
  }

  /** Scale-dispatched assignment: flat below `HierarchicalFloor`
    * (exact, no join), two-level at or above it (O(√k) per row, no
    * single-row model). Callers pass the cell count they sized the
    * index with — every corpus-scaled call site knows k. */
  def ivfAssignWithVecScaled(corpus: DataFrame, centroids: DataFrame,
                             k: Long, idCol: String, cidCol: String,
                             vecCol: String, dims: Int = -1): DataFrame =
    if (k < HierarchicalFloor)
      ivfAssignWithVec(corpus, centroids, idCol, cidCol, vecCol)
    else
      ivfAssignWithVecHier(corpus, centroids, hierGroups(k), idCol,
        cidCol, vecCol, dims).drop("scid")

  /** Two-level multi-probe: each row's n nearest cells as
    * (id, vec, cell, probe_rank), probing the n nearest SUPERS and
    * re-ranking their children's top-n by (dist, cid) — the
    * hierarchical twin of `topNCentroid`+posexplode on the flat array.
    * Each cell belongs to exactly one super, so candidates need no
    * dedup; the final rank is a per-id window over ≤ n² rows (bounded,
    * WindowGroupLimit pre-reduces map-side). */
  def hierProbeCells(rows: DataFrame, centroids: DataFrame, g: Int,
                     n: Int, idCol: String, cidCol: String,
                     vecCol: String, dims: Int = -1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (supersArr, children) =
      hierIndex(centroids, g, cidCol, vecCol, dims)
    val cand = rows.select(col(idCol), col(vecCol))
      .crossJoin(supersArr)
      .select(col(idCol), col(vecCol),
        explode(graft.functions.VectorExpressions
          .topNCentroid(col(vecCol), col("__supers"), n)).as("__scid"))
      .join(children, Seq("__scid"))
      .select(col(idCol), col(vecCol),
        explode(graft.functions.VectorExpressions
          .topNCentroidDist(col(vecCol), col("__children"), n))
          .as("__cd"))
      .select(col(idCol), col(vecCol), col("__cd.cid").as("cell"),
        col("__cd.dist").as("__dist"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__dist"), col("cell"))
    cand.withColumn("probe_rank", row_number().over(w).cast("long"))
      .where(col("probe_rank") <= n)
      .select(col(idCol), col(vecCol), col("cell"), col("probe_rank"))
  }

  /** IVF probe search: approximate top-k by cosine, searching only the
    * `nProbe` cells whose centroids are nearest each query (the standard
    * IVF query path over the `ivfAssign` coarse quantizer). Exact within
    * the probed cells — recall is governed by nProbe/centroid quality.
    *
    * 100 TB shape: cell assignment is map-side (argmin kernel over the
    * broadcast centroid array — the corpus never moves), the probe list
    * is queries × nProbe rows (tiny, broadcast), and candidate scoring
    * is a broadcast equi-join on the cell id. Only the per-query top-k
    * window shuffles candidates — bounded by the probed cells'
    * population, and pre-reduced map-side by the partial
    * WindowGroupLimit. */
  def ivfProbeTopK(queries: DataFrame, corpus: DataFrame,
                   centroids: DataFrame, qidCol: String, idCol: String,
                   cidCol: String, vecCol: String,
                   k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssignWithVec(corpus, centroids, idCol, cidCol,
      vecCol)
    val c = centroids.select(col(cidCol).cast("long").as(cidCol),
      col(vecCol).as("__cv"))
    val probeW = Window.partitionBy(col(qidCol))
      .orderBy(col("__dist"), col(cidCol))
    val probes = queries.select(col(qidCol), col(vecCol).as("__qv"))
      .crossJoin(broadcast(c))
      .withColumn("__dist", sqDist(col("__qv"), col("__cv")))
      .withColumn("__rn", row_number().over(probeW))
      .where(col("__rn") <= nProbe)
      .select(col(qidCol), col("__qv"), col(cidCol))
    val scored = assigned.join(broadcast(probes), Seq(cidCol))
      .where(col(qidCol) =!= col(idCol))
      .withColumn("__cos", cosine(col("__qv"), col(vecCol)))
      .where(!isnan(col("__cos"))) // NaN sorts largest — see bruteForceTopK
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("__cos").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col(qidCol), col(idCol), round(col("__cos"), 6).as("cos"),
        col("rn"))
  }

  /** One Lloyd's iteration: assign every vector to its nearest centroid,
    * then recompute each centroid as the element-wise mean of its cell.
    * All distributed: assignment is the broadcast argmin of `ivfAssign`,
    * the mean is a posexplode → (cid, dim) partial-aggregated average →
    * re-assembled array (sorted struct collect, bounded by dims per
    * group). Chain for k-means; one step is also the IVF re-train. */
  def kmeansStep(corpus: DataFrame, centroids: DataFrame,
                 idCol: String, cidCol: String,
                 vecCol: String): DataFrame = {
    val means = ivfAssignWithVec(corpus, centroids, idCol, cidCol, vecCol)
      .select(col(cidCol), posexplode(col(vecCol)))
      .groupBy(col(cidCol), col("pos"))
      .agg(avg(col("col").cast("double")).as("__v"))
      .groupBy(col(cidCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("__v")))),
        s => s.getField("__v")).as("__new"))
    // a cell that attracted no members KEEPS its previous centroid —
    // the groupBy emits no row for it, and without this join the
    // model would silently shrink below k (duplicate seeds make empty
    // cells routine on pre-dedup corpora) and never recover the cell
    centroids.select(col(cidCol).cast("long").as(cidCol),
        transform(col(vecCol), x => x.cast("double")).as("__prev"))
      .join(means, Seq(cidCol), "left")
      .select(col(cidCol),
        coalesce(col("__new"), col("__prev")).as(vecCol))
  }

  /** k-means on an embedding corpus: deterministic seeding with the k
    * smallest ids, `iters` Lloyd steps. Returns (cid, vector). */
  def kmeans(corpus: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = {
    var cent = corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cid"),
        transform(col(vecCol), x => x.cast("double")).as(vecCol))
    (0 until iters).foreach { _ =>
      cent = kmeansStep(corpus, cent, idCol, "cid", vecCol)
        .localCheckpoint() // truncate the growing iteration lineage
    }
    cent
  }

  /** The SRP ±1 projection matrix: pseudo-random weights derived from
    * md5(plane||'_'||dim) — deterministic, engine-portable, no stored
    * model. Depends only on (plane, dim) → computed ONCE driver-side. */
  private[graft] def srpWeights(dims: Int, planes: Int): Seq[Seq[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (1 to planes).map { p =>
      (1 to dims).map { d =>
        val h = digest.digest(s"${p}_$d".getBytes("UTF-8"))
        if ((h(0) & 0xFF) >= 0x80) 1.0 else -1.0 // first hex char in 8..f
      }
    }
  }

  /** Sign-random-projection LSH bucket id (a `planes`-char '0'/'1'
    * string). Map-side only; single-pass kernel over the baked-in
    * weight matrix (equivalence vs the declarative fold:
    * SketchExprSpec). */
  def srpBucket(vec: Column, dims: Int, planes: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.VectorExpressions.VecSrpBucketExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(vec),
        srpWeights(dims, planes)))

  /** Bucketed ANN: top-k by cosine searched only within each query's SRP
    * bucket — the 100 TB path (bucket is a map-side label; the join is an
    * equi-join on it, not a cross join). Recall depends on `planes`;
    * `probeRadius` > 0 additionally probes every bucket within that
    * Hamming distance of the query's (classic multi-probe LSH: a
    * near-neighbor that straddles one hyperplane lands one bit away —
    * radius 1 multiplies candidates by ≤ planes+1 but recovers most of
    * the single-probe misses). Probing explodes only the TINY query
    * side; the corpus is still bucketed once, map-side. */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame,
                   qidCol: String, idCol: String, vecCol: String,
                   k: Int, dims: Int, planes: Int,
                   probeRadius: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probeRadius >= 0 && probeRadius <= 1,
      "only radius 0/1 probing is implemented")
    val b0 = srpBucket(col(vecCol), dims, planes)
    val probeBuckets =
      if (probeRadius == 0) array(b0)
      else concat(array(b0), transform(sequence(lit(0), lit(planes - 1)),
        i => concat(
          b0.substr(lit(1), i), // prefix before the flipped bit
          when(b0.substr(i + 1, lit(1)) === "1", "0").otherwise("1"),
          b0.substr(i + 2, lit(planes))))) // suffix after it
    val q = queries.select(col(qidCol), col(vecCol).as("__qv"),
      explode(probeBuckets).as("__bkt"))
    val c = corpus.select(col(idCol), col(vecCol),
      srpBucket(col(vecCol), dims, planes).as("__bkt"))
    val scored = c.join(broadcast(q), Seq("__bkt"))
      .where(col(qidCol) =!= col(idCol))
      .withColumn("__cos", cosine(col("__qv"), col(vecCol)))
      .where(!isnan(col("__cos"))) // NaN sorts largest — see bruteForceTopK
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("__cos").desc, col(idCol))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col(qidCol), col(idCol), round(col("__cos"), 6).as("cos"),
        col("rn"))
  }

  /** Codebook folded into ONE broadcast row, sorted by code id so
    * `element_at(cb, code + 1)` is a direct lookup — requires the
    * codebook's ids to be contiguous 0..n-1 (callers seed them that
    * way). Stored full-dim; subspace j of entry c is a slice. */
  private def codebookArray(codebook: DataFrame, cidCol: String,
                            vecCol: String): DataFrame =
    broadcast(codebook.groupBy().agg(sort_array(collect_list(struct(
      col(cidCol).cast("long").as("cid"),
      transform(col(vecCol), x => x.cast("double")).as("cv"))))
      .as("__cb")))

  /** Product-quantization encode: the vector splits into m contiguous
    * subvectors; each is independently assigned its nearest codebook
    * entry (squared L2 on that subspace, ties → smallest code) via the
    * single-pass argmin kernel. Fully MAP-SIDE — the codebook is one
    * broadcast row, the corpus never shuffles, and each vector
    * compresses from `dims` floats to m small codes: the storage shape
    * that makes a 100 TB ANN index fit in memory (IVF-PQ posting
    * payload). Output: (id, codes array<long> of length m). */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, idCol: String,
               cidCol: String, vecCol: String, m: Int,
               dims: Int): DataFrame =
    pqEncodeKeep(corpus, codebook, idCol, cidCol, vecCol, m, dims, Nil)

  /** The codebook PRE-SLICED per subspace into one broadcast row
    * (`__cbs`: array over j of array<struct<cid, cv_sub>>): the
    * slicing work happens ONCE at build, in the 1-row aggregate —
    * an expression over the broadcast column inside the encode
    * would re-slice all n·dims codebook doubles per corpus ROW per
    * subspace (measured: the first t143 encode spent ~5 s at sf0.1
    * on exactly that — 2000 rows × 8 subspaces × 256 entries of
    * per-row array copying). */
  private def codebookSubspaces(codebook: DataFrame, cidCol: String,
                                vecCol: String, m: Int,
                                sub: Int): DataFrame =
    broadcast(codebook.groupBy().agg(sort_array(collect_list(struct(
        col(cidCol).cast("long").as("cid"),
        transform(col(vecCol), x => x.cast("double")).as("cv"))))
        .as("__cb"))
      .select(transform(sequence(lit(0), lit(m - 1)), j =>
        transform(col("__cb"), ct => struct(
          ct.getField("cid").as("cid"),
          slice(ct.getField("cv"), j * sub + 1, lit(sub)).as("cv"))))
        .as("__cbs")))

  /** `pqEncode` with extra columns carried through (e.g. the coarse
    * cell id an IVF-PQ posting list is keyed by) — same map-side
    * plan, no join-back to recover them. Per (row, subspace) the
    * argmin kernel scans the PRE-SLICED broadcast codebook — O(1)
    * lookup, no per-row slicing. */
  def pqEncodeKeep(corpus: DataFrame, codebook: DataFrame, idCol: String,
                   cidCol: String, vecCol: String, m: Int, dims: Int,
                   keep: Seq[String]): DataFrame = {
    require(dims % m == 0, "m must divide dims evenly")
    val sub = dims / m
    corpus.select((idCol +: keep :+ vecCol).map(col): _*)
      .crossJoin(codebookSubspaces(codebook, cidCol, vecCol, m, sub))
      .select((col(idCol) +: keep.map(col)) :+
        transform(sequence(lit(0), lit(m - 1)), j =>
          graft.functions.VectorExpressions.argminCentroid(
            slice(col(vecCol), j * sub + 1, lit(sub)),
            element_at(col("__cbs"), j + 1))).as("codes"): _*)
  }

  /** Reconstruction of a PQ-encoded vector: subspace j's slice of the
    * codebook entry its code names, concatenated back to full dim.
    * `cb` is the sorted broadcast codebook column (`__cb`). */
  private def pqReconstruct(codes: Column, cb: Column, m: Int,
                            sub: Int): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)), j =>
      slice(element_at(cb, (element_at(codes, j + 1) + 1).cast("int"))
        .getField("cv"), j * sub + 1, lit(sub))))

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the
    * query keeps its exact vector, each corpus vector is scored at its
    * reconstruction — sum over subspaces of ||q_j − cb[code_j]_j||²,
    * computed as one sqDist against the stitched reconstruction. The
    * encoded corpus (m codes/row) never shuffles; queries and codebook
    * ride along as broadcast rows; per-query top-k is the same
    * window-limit shape as `bruteForceTopK`. This is the search half
    * of IVF-PQ: at 100 TB the scan reads codes, not vectors. */
  def pqAdcTopK(queries: DataFrame, encoded: DataFrame,
                codebook: DataFrame, qidCol: String, idCol: String,
                cidCol: String, vecCol: String, codesCol: String,
                m: Int, dims: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dims % m == 0, "m must divide dims evenly")
    val sub = dims / m
    val q = broadcast(queries.select(col(qidCol),
      transform(col(vecCol), x => x.cast("double")).as("__qv")))
    val scored = encoded
      .crossJoin(codebookArray(codebook, cidCol, vecCol)
        .withColumnRenamed("__cb", "__cbq"))
      // reconstruct ONCE per corpus row: stitched after the codebook
      // join but BEFORE the query join, or the m-subspace stitch is
      // re-evaluated |queries| times per encoded row on the dominant
      // scan this function exists to keep cheap
      .withColumn("__rec",
        pqReconstruct(col(codesCol), col("__cbq"), m, sub))
      .drop("__cbq")
      .crossJoin(q)
      .where(col(qidCol) =!= col(idCol))
      .withColumn("__adc", sqDist(col("__qv"), col("__rec")))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("__adc"), col(idCol))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col(qidCol), col(idCol), round(col("__adc"), 6).as("adc"),
        col("rn"))
  }

  /** IVF-PQ search — the full composite production index (FAISS
    * IndexIVFPQ): the corpus is stored as (cell, m PQ codes of the
    * RESIDUAL v − centroid_cell), a query probes its `nProbe`
    * nearest cells and scores ONLY those cells' postings by the
    * asymmetric distance between its per-cell residual and each
    * posting's reconstruction. 100 TB shape: the scan reads codes
    * keyed by cell and the broadcast probe join restricts work to
    * probed cells (with the posting table partitioned/bucketed by
    * cell this is partition pruning); centroids, probes, and the
    * codebook are broadcast models; only the bounded per-query top-k
    * window shuffles candidates. `encoded`: (idCol, cellCol,
    * codesCol) from `pqEncodeKeep` over residuals. */
  def ivfPqTopK(queries: DataFrame, encoded: DataFrame,
                codebook: DataFrame, centroids: DataFrame,
                qidCol: String, idCol: String, cellCol: String,
                cidCol: String, vecCol: String, codesCol: String,
                m: Int, dims: Int, k: Int, nProbe: Int,
                queryRows: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = centroids.select(col(cidCol).cast("long").as(cidCol),
      transform(col(vecCol), x => x.cast("double")).as("__cv"))
    val probeW = Window.partitionBy(col(qidCol))
      .orderBy(col("__dist"), col(cidCol))
    // per query: the nProbe nearest cells AND the query's residual
    // against each probed centroid (the vector the ADC compares to)
    val probes = queries.select(col(qidCol),
        transform(col(vecCol), x => x.cast("double")).as("__qv"))
      .crossJoin(broadcast(c))
      .withColumn("__dist", sqDist(col("__qv"), col("__cv")))
      .withColumn("__rn", row_number().over(probeW))
      .where(col("__rn") <= nProbe)
      .select(col(qidCol), col(cidCol).as(cellCol),
        zip_with(col("__qv"), col("__cv"), (a, b) => a - b).as("__qr"))
    // probe-frame size guard (r17 verdict #3): the broadcast is
    // priced from the query-frame row count — callers that already
    // know it (a bounded literal slice) pass `queryRows` and skip the
    // extra Spark job; only an unhinted call pays one count over the
    // RAW query frame (never the probe pipeline)
    val nQueries = if (queryRows >= 0) queryRows else queries.count()
    ivfPqTopKProbed(probes, encoded, codebook, qidCol, idCol, cellCol,
      cidCol, vecCol, codesCol, m, dims, k,
      probeRows = nQueries * nProbe)
  }

  /** The scoring half of IVF-PQ over a PRE-BUILT probe frame
    * (`probes`: qidCol, cellCol, `__qr` = the query's residual against
    * each probed centroid) — the entry point for corpus-scaled callers
    * whose probe list comes from the two-level quantizer rather than
    * the flat scan `ivfPqTopK` runs.
    *
    * CONTRACT (r17 verdict #3): the probe frame is a MODEL — when
    * broadcast, every executor holds probeRows × dims doubles. That is
    * the right plan for the tracked shape (a bounded query set probing
    * a corpus-sized posting table), but a corpus-sized SELF-search
    * would replicate n·nProbe·dims doubles per executor. `probeRows`
    * (pass nQueries·nProbe; a negative value triggers a count of
    * `probes` itself, which re-executes the probe pipeline — prefer
    * the hint) prices the broadcast against
    * `graft.ann.maxModelBroadcastBytes`; above the bound the cell-key
    * join runs UNHINTED, so the posting table exchanges on the cell id
    * once instead of the job dying in a broadcast OOM. Values are
    * identical either way — only the join strategy moves
    * (spec: VectorHierSpec "ivfPqTopKProbed fallback"). */
  def ivfPqTopKProbed(probes: DataFrame, encoded: DataFrame,
                      codebook: DataFrame, qidCol: String, idCol: String,
                      cellCol: String, cidCol: String, vecCol: String,
                      codesCol: String, m: Int, dims: Int, k: Int,
                      probeRows: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dims % m == 0, "m must divide dims evenly")
    val sub = dims / m
    val spark = probes.sparkSession
    val maxModelBytes = spark.conf
      .get("graft.ann.maxModelBroadcastBytes", (4L << 30).toString).toLong
    val rows = if (probeRows >= 0) probeRows else probes.count()
    val probeBytes = rows * (dims * 8L + 48L)
    val probeSide =
      if (probeBytes <= maxModelBytes) broadcast(probes)
      else {
        System.err.println(s"[graft] ivfPqTopKProbed: estimated probe " +
          s"frame ~${probeBytes >> 20} MiB exceeds " +
          s"graft.ann.maxModelBroadcastBytes=$maxModelBytes; the " +
          "cell-key join runs unhinted (shuffle)")
        probes
      }
    val scored = encoded
      .join(probeSide, Seq(cellCol))
      .where(col(qidCol) =!= col(idCol))
      .crossJoin(codebookArray(codebook, cidCol, vecCol)
        .withColumnRenamed("__cb", "__cbq"))
      .withColumn("__rec",
        pqReconstruct(col(codesCol), col("__cbq"), m, sub))
      .withColumn("__adc", sqDist(col("__qr"), col("__rec")))
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("__adc"), col(idCol))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col(qidCol), col(idCol), round(col("__adc"), 6).as("adc"),
        col("rn"))
  }
}
