package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Skew, Vectors}

class SkewVectorsSpec extends SparkSpec {

  import spark.implicits._

  test("salted aggregation equals plain groupBy aggregation") {
    val df = (1 to 10000).map(i => (if (i % 100 == 0) "cold" + i else "hot",
      i.toDouble)).toDF("k", "v")
    val salted = Skew.saltedSumCount(df, Seq("k"), "v", salt = 8)
      .orderBy("k").collect()
    val plain = df.groupBy("k")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    assert(salted.length === plain.length)
    salted.zip(plain).foreach { case (s, p) =>
      assert(s.getString(0) === p.getString(0))
      assert(math.abs(s.getDouble(1) - p.getDouble(1)) < 1e-6)
      assert(s.getLong(2) === p.getLong(2))
    }
  }

  test("cosine and brute-force top-k are exact and deterministic") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)),
      (4L, Array(0.7071f, 0.7071f))).toDF("vec_id", "embedding")
    val q = vecs.where($"vec_id" === 0L)
      .select($"vec_id".as("qid"), $"embedding")
    val out = Vectors.bruteForceTopK(q, vecs, "qid", "vec_id",
      "embedding", k = 4).orderBy("rn").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 4L, 2L, 3L))
    assert(out.head.getDouble(2) === 1.0)     // identical vector
    assert(out.last.getDouble(2) === -1.0)    // opposite vector
  }

  test("zero-norm vectors never head a top-k and never drop a " +
    "semdedup cluster") {
    // cosine against an all-zeros vector is 0/0 = NaN, and Spark
    // sorts NaN LARGEST: unguarded, vec 9 would head every top-k and
    // (as the min-id member) semdedup would drop its whole cluster
    val vecs = Seq(
      (9L, Array(0.0f, 0.0f)), // zero-norm, smallest-id-in-cluster bait
      (10L, Array(1.0f, 0.0f)), (11L, Array(1.0f, 0.0f)),
      (12L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.1f))).toDF("qid", "embedding")
    val top = Vectors.bruteForceTopK(q, vecs, "qid", "vec_id",
      "embedding", k = 4).collect()
    assert(!top.map(_.getLong(1)).contains(9L),
      "a zero-norm vector has no cosine and cannot be a neighbor")
    assert(top.forall(r => !r.getDouble(2).isNaN))
    // one cluster (cid 0) containing the zero vector as min id: the
    // two identical real vectors still dedup (11 drops against 10),
    // but NaN similarity to 9 must not drop anything
    val cent = Seq((0L, Array(0.5f, 0.5f))).toDF("cid", "embedding")
    val kept = graft.ops.Dedup.semDedupKeep(vecs, cent, "vec_id",
      "cid", "embedding", tau = 0.95)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(9L, 10L, 12L),
      s"NaN must never count as similarity evidence; kept ${kept.toSeq}")
  }

  test("kmeansStep keeps a centroid whose cell went empty") {
    // both seeds identical → every point ties to the smaller cid and
    // cell 1 goes empty; the step must retain centroid 1 unchanged
    // instead of silently shrinking the model below k
    val pts = (0 until 8).map(i => (i.toLong, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cent = Seq((0L, Array(1.0f, 1.0f)), (1L, Array(1.0f, 1.0f)))
      .toDF("cid", "embedding")
    val next = Vectors.kmeansStep(pts, cent, "vec_id", "cid", "embedding")
      .orderBy("cid").collect()
    assert(next.length === 2, "the model must not shrink below k")
    assert(next(1).getLong(0) === 1L)
    assert(next(1).getSeq[Double](1) === Seq(1.0, 1.0),
      "an empty cell keeps its previous centroid")
  }

  test("connectedComponents rejects non-integral node ids loudly") {
    val edges = Seq(("a", "b")).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Dedup.connectedComponents(edges, "id_a", "id_b")
    }
    assert(ex.getMessage.contains("integral"),
      s"string ids must fail loud, got: ${ex.getMessage}")
  }

  /** The declarative twin of `Vectors.ivfAssign`: candidate explosion
    * plus a windowed argmin (ties to the smallest cid). */
  private def ivfAssignWindowed(corpus: DataFrame, centroids: DataFrame,
                                idCol: String, cidCol: String,
                                vecCol: String): DataFrame = {
    val c = centroids.select(col(cidCol).cast("long").as(cidCol),
      col(vecCol).as("__cv"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__dist"), col(cidCol))
    corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(c))
      .withColumn("__dist", Vectors.sqDist(col(vecCol), col("__cv")))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(idCol), col(cidCol))
  }

  test("map-side IVF assignment == windowed argmin (incl. ties)") {
    val rnd = new scala.util.Random(11)
    val pts = (0 until 200).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    // duplicated centroid vectors force distance ties → smallest cid wins
    val cent = pts.where($"vec_id" < 4)
      .select(($"vec_id" + 100).as("cid"), $"embedding")
      .unionByName(pts.where($"vec_id" < 2)
        .select($"vec_id".as("cid"), $"embedding"))
    val fast = Vectors.ivfAssign(pts, cent, "vec_id", "cid", "embedding")
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val slow = ivfAssignWindowed(pts, cent, "vec_id", "cid", "embedding")
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.toSeq === slow.toSeq)
  }

  test("IVF probe: all-cells probe == brute force; 1-cell probe ⊆ it") {
    val pts = (0 until 24).map { i =>
      val base = (i % 4) * 10.0f // four well-separated clusters
      (i.toLong, Array(base + (i % 3) * 0.1f, base - (i % 5) * 0.1f + 1.0f))
    }.toDF("vec_id", "embedding")
    val cent = pts.where($"vec_id" < 4)
      .select($"vec_id".as("cid"), $"embedding")
    val q = pts.where($"vec_id" === 5L)
      .select($"vec_id".as("qid"), $"embedding")
    // probing every cell is exhaustive → identical to the exact baseline
    val all = Vectors.ivfProbeTopK(q, pts, cent, "qid", "vec_id", "cid",
      "embedding", k = 4, nProbe = 4).orderBy("rn").collect()
    val bf = Vectors.bruteForceTopK(q, pts, "qid", "vec_id", "embedding",
      k = 4).orderBy("rn").collect()
    assert(all.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      === bf.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    // a 1-cell probe returns a subset of the exhaustive candidates,
    // still ranked by cosine descending
    val one = Vectors.ivfProbeTopK(q, pts, cent, "qid", "vec_id", "cid",
      "embedding", k = 4, nProbe = 1).orderBy("rn").collect()
    val cosines = one.map(_.getDouble(2)).toSeq
    assert(cosines === cosines.sorted.reverse)
    val bfIds = pts.collect().map(_.getLong(0)).toSet
    assert(one.map(_.getLong(1)).forall(bfIds.contains))
  }

  test("multi-probe bucketed ANN: recall ≥ single-probe, ⊆ brute force") {
    val rnd = new scala.util.Random(19)
    val pts = (0 until 400).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val q = pts.where($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding")
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = ids(Vectors.bruteForceTopK(q, pts, "qid", "vec_id",
      "embedding", k = 5))
    val single = ids(Vectors.bucketedTopK(q, pts, "qid", "vec_id",
      "embedding", k = 5, dims = 16, planes = 4))
    val multi = ids(Vectors.bucketedTopK(q, pts, "qid", "vec_id",
      "embedding", k = 5, dims = 16, planes = 4, probeRadius = 1))
    // every single-probe hit that is a true neighbor stays a hit under
    // multi-probe (candidate set only grows), and recall improves
    assert((single & bf).subsetOf(multi & bf))
    assert((multi & bf).size >= (single & bf).size)
    // with only 16 buckets over 400 points, radius-1 probing must
    // surface better neighbors than the home bucket alone for at least
    // one query (k stays filled, so compare contents, not size)
    assert(multi !== single)
  }

  test("k-means converges on two well-separated clusters") {
    val pts = (0 until 20).map { i =>
      val base = if (i % 2 == 0) 0.0f else 10.0f
      (i.toLong, Array(base + (i % 5) * 0.1f, base - (i % 3) * 0.1f))
    }.toDF("vec_id", "embedding")
    val cent = Vectors.kmeans(pts, "vec_id", "embedding", k = 2,
      iters = 3).orderBy("cid").collect()
    assert(cent.length === 2)
    val c0 = cent(0).getSeq[Double](1)
    val c1 = cent(1).getSeq[Double](1)
    // seeds are ids 0 (near 0) and 1 (near 10): centroids end near the
    // cluster means
    assert(c0.head < 1.0 && c0.head >= 0.0)
    assert(c1.head > 9.0 && c1.head <= 11.0)
    // every point is nearer its own centroid than the other
    val assigned = Vectors.ivfAssign(pts,
      Seq((0L, c0.map(_.toFloat).toArray), (1L, c1.map(_.toFloat).toArray))
        .toDF("cid", "embedding"),
      "vec_id", "cid", "embedding")
    val wrong = assigned.where(
      (col("vec_id") % 2 === 0 && col("cid") =!= 0L) ||
        (col("vec_id") % 2 === 1 && col("cid") =!= 1L)).count()
    assert(wrong === 0)
  }

  test("PQ encode: codebook vectors are their own codes; twins share codes") {
    // 4-dim, m=2 (2-dim subspaces), 2-entry codebook
    val cb = Seq((0L, Array(0f, 0f, 10f, 10f)),
      (1L, Array(10f, 10f, 0f, 0f))).toDF("cid", "embedding")
    val corpus = Seq(
      (0L, Array(0f, 0f, 10f, 10f)),   // codebook donor → (0, 0)
      (1L, Array(10f, 10f, 0f, 0f)),   // codebook donor → (1, 1)
      (2L, Array(9f, 9f, 1f, 1f)),     // near donor 1   → (1, 1)
      (3L, Array(1f, 1f, 9f, 9f)))     // near donor 0   → (0, 0)
      .toDF("vec_id", "embedding")
    val got = Vectors.pqEncode(corpus, cb, "vec_id", "cid", "embedding",
      m = 2, dims = 4).as[(Long, Seq[Long])].collect().toMap
    assert(got(0L) === Seq(0L, 0L) && got(1L) === Seq(1L, 1L))
    assert(got(2L) === Seq(1L, 1L) && got(3L) === Seq(0L, 0L))
  }

  test("PQ ADC: distance to a codebook donor's codes is exact sqDist") {
    // ADC against a vector that IS its reconstruction (a codebook
    // donor) must equal the true squared distance; ranking follows.
    val cb = Seq((0L, Array(0f, 0f, 10f, 10f)),
      (1L, Array(10f, 10f, 0f, 0f))).toDF("cid", "embedding")
    val corpus = cb.select(col("cid").as("vec_id"), col("embedding"))
    val enc = Vectors.pqEncode(corpus, cb, "vec_id", "cid", "embedding",
      m = 2, dims = 4)
    val q = Seq((100L, Array(1f, 0f, 9f, 10f))).toDF("qid", "embedding")
    val got = Vectors.pqAdcTopK(q, enc, cb, "qid", "vec_id", "cid",
      "embedding", "codes", m = 2, dims = 4, k = 2)
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._2, r._3)).toMap
    // ||q-cb0||² = 1+0+1+0 = 2; ||q-cb1||² = 81+100+81+100 = 362
    assert(got(0L) === 2.0 && got(1L) === 362.0)
  }

  test("SRP bucket: identical vectors share a bucket, opposite flip all bits") {
    // power-of-two components: a ±1-weighted sum can never be exactly 0,
    // so every bit genuinely flips for the negated vector
    val v = (0 until 8).map(i => math.pow(2.0, i.toDouble).toFloat).toArray
    val vecs = Seq((0L, v), (1L, v), (2L, v.map(-_)))
      .toDF("vec_id", "embedding")
    val b = vecs.select($"vec_id",
      Vectors.srpBucket($"embedding", 8, 6).as("b")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(0L) === b(1L))
    assert(b(0L).zip(b(2L)).forall { case (x, y) => x != y })
    assert(b(0L).length === 6)
  }
}
