package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.ops.Vectors
import graft.queries.AnnQueries

/** The hierarchical (two-level) IVF coarse quantizer: kernel
  * equivalences, the g = k degenerate case (where two-level routing is
  * exactly the flat argmin: every centroid is its own super), and the
  * HierarchicalFloor dispatch at a realistic above-floor cell count. */
class VectorHierSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic pseudo-random corpus: dims-4 doubles derived from
    * the id by integer mixing (distinct vectors — no duplicate-seed
    * tie ambiguity in the g = k equivalence). */
  private def corpus(n: Int): DataFrame =
    spark.range(n).select($"id".as("vec_id"),
      array((1 to 4).map(d =>
        (pmod(hash($"id" * lit(d + 31)), lit(1000)).cast("double") +
          $"id".cast("double") / lit(100000.0)) / lit(7.0)): _*).as("v"))

  private def cents(e: DataFrame, k: Long): DataFrame =
    e.where($"vec_id" < k).select($"vec_id".as("cid"), $"v")

  private def centArr(c: DataFrame) =
    broadcast(c.groupBy().agg(collect_list(struct(
      $"cid".cast("long").as("cid"), $"v".as("cv"))).as("__cents")))

  test("topNCentroidDist: same cids as topNCentroid, dists == sqDist") {
    val e = corpus(60)
    val c = cents(e, 9)
    val both = e.crossJoin(centArr(c))
      .select($"vec_id",
        VectorExpressions.topNCentroid($"v", $"__cents", 3).as("cids"),
        VectorExpressions.topNCentroidDist($"v", $"__cents", 3).as("cd"))
    assert(both.where(!($"cids" === $"cd.cid")).count() === 0)
    // distances match the scalar kernel per (vec, cid) pair
    val flat = both.select($"vec_id", explode($"cd").as("x"))
      .select($"vec_id", $"x.cid".as("cid"), $"x.dist".as("dist"))
      .join(c.select($"cid", $"v".as("cv")), Seq("cid"))
      .join(e, Seq("vec_id"))
      .where(Vectors.sqDist($"v", $"cv") =!= $"dist")
    assert(flat.count() === 0)
  }

  test("g = k hierarchy == flat assignment (every centroid its own super)") {
    val e = corpus(80)
    val k = 12L
    val c = cents(e, k)
    val flat = Vectors.ivfAssignWithVec(e, c, "vec_id", "cid", "v")
      .select("vec_id", "cid")
    val hier = Vectors.ivfAssignWithVecHier(e, c, k.toInt, "vec_id",
      "cid", "v").select("vec_id", "cid")
    assert(flat.exceptAll(hier).count() === 0)
    assert(hier.exceptAll(flat).count() === 0)
    // and in the degenerate hierarchy scid == cid for every row
    val full = Vectors.ivfAssignWithVecHier(e, c, k.toInt, "vec_id",
      "cid", "v")
    assert(full.where($"scid" =!= $"cid").count() === 0)
  }

  test("g = k hierProbeCells == flat topN posexplode ranks") {
    val e = corpus(80)
    val k = 12L
    val c = cents(e, k)
    val n = 3
    val flat = e.crossJoin(centArr(c))
      .select($"vec_id",
        posexplode(VectorExpressions.topNCentroid($"v", $"__cents", n)))
      .select($"vec_id", $"col".as("cell"),
        ($"pos" + 1).cast("long").as("probe_rank"))
    val hier = Vectors.hierProbeCells(e, c, k.toInt, n, "vec_id", "cid",
      "v").select("vec_id", "cell", "probe_rank")
    assert(flat.exceptAll(hier).count() === 0)
    assert(hier.exceptAll(flat).count() === 0)
  }

  test("two-level routing: every row lands in a child of its super") {
    val e = corpus(200)
    val k = 25L // g = 5
    val c = cents(e, k)
    val g = Vectors.hierGroups(k)
    assert(g === 5)
    val full = Vectors.ivfAssignWithVecHier(e, c, g, "vec_id", "cid", "v")
    assert(full.count() === 200)
    // the child assignment is the argmin of the chosen super's children:
    // recompute the full flat dist table and check each (row, cid) is
    // minimal among children sharing the row's scid
    val childOf = Vectors.ivfAssignWithVec(c, c.orderBy($"cid").limit(g)
        .select($"cid".as("scid"), $"v"), "cid", "scid", "v")
      .select($"cid".as("ccid"), $"scid".as("cscid"))
    val dists = full.select($"vec_id", $"v", $"scid", $"cid")
      .join(c.select($"cid".as("ccid"), $"v".as("cv")), expr("true"))
      .join(childOf, Seq("ccid"))
      .where($"cscid" === $"scid")
      .withColumn("d", Vectors.sqDist($"v", $"cv"))
    val chosen = dists.where($"ccid" === $"cid")
      .select($"vec_id", $"d".as("dchosen"))
    val better = dists.join(chosen, Seq("vec_id"))
      .where($"d" < $"dchosen" ||
        ($"d" === $"dchosen" && $"ccid" < $"cid"))
    assert(better.count() === 0)
  }

  test("bitext candidate generator: the above-floor hierarchical " +
    "branch produces well-formed cross-side candidates") {
    // gate SFs never cross the floor, so this branch is otherwise
    // exercised only at 100× — the r16 scale run caught a
    // column-name bug here; keep it pinned at spec scale
    val e = corpus(1300)
    val k = Vectors.HierarchicalFloor // forces the two-level branch
    val cand = AnnQueries.bitextCandidatesForTest(e, k, nProbe = 2)
    assert(cand.columns.toSeq ===
      Seq("x_id", "y_id", "cos_micro", "probe_rank"))
    val rows = cand.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 2 == 0 &&
      r.getLong(1) % 2 == 1), "x even / y odd sides")
    assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 2))
    // pairs unique by construction (y in one cell, probed cells
    // distinct)
    assert(cand.groupBy("x_id", "y_id").count()
      .where($"count" > 1).count() === 0)
  }

  test("dim-mismatched vector keeps a null cid (flat-path parity)") {
    // r16 advice: the inner level-2 join silently DROPPED rows whose
    // vector length matches no super — a corpus-size-dependent data
    // loss once k crosses the floor. The left join must carry them
    // with a null cid exactly like the flat kernel does.
    val e = corpus(60).unionByName(
      spark.range(1).select(lit(990L).as("vec_id"),
        array(lit(1.0), lit(2.0)).as("v"))) // 2-dim vs the corpus's 4
    val c = cents(corpus(60), 9)
    val flat = Vectors.ivfAssignWithVec(e, c, "vec_id", "cid", "v")
    val hier = Vectors.ivfAssignWithVecHier(e, c, 3, "vec_id", "cid", "v")
    assert(flat.where($"vec_id" === 990L && $"cid".isNull).count() === 1)
    assert(hier.count() === 61, "no row dropped")
    assert(hier.where($"vec_id" === 990L && $"cid".isNull).count() === 1)
  }

  test("model-broadcast bound: shuffle fallback preserves assignments") {
    val e = corpus(120)
    val k = 16L
    val c = cents(e, k)
    val g = Vectors.hierGroups(k)
    val broadcasted = Vectors.ivfAssignWithVecHier(e, c, g, "vec_id",
      "cid", "v").select("vec_id", "scid", "cid")
    val fallback =
      try {
        spark.conf.set("graft.ann.maxModelBroadcastBytes", "1")
        Vectors.ivfAssignWithVecHier(e, c, g, "vec_id", "cid", "v")
          .select("vec_id", "scid", "cid")
          .localCheckpoint() // materialize under the tiny bound
      } finally spark.conf.unset("graft.ann.maxModelBroadcastBytes")
    assert(broadcasted.exceptAll(fallback).count() === 0)
    assert(fallback.exceptAll(broadcasted).count() === 0)
  }

  test("ivfPqTopKProbed fallback: shuffle join preserves ADC top-k") {
    // r17 verdict #3: the probe frame is a model — above the
    // configured byte bound the cell-key join must run unhinted
    // (shuffle) with identical values, never a forced broadcast.
    val e = corpus(300)
    val c = cents(e, 8)
    val resid = Vectors.ivfAssignWithVec(e, c, "vec_id", "cid", "v")
      .join(broadcast(c.select($"cid", $"v".as("__cv"))), Seq("cid"))
      .select($"vec_id", $"cid".as("cell"),
        zip_with($"v", $"__cv", (a, b) => a - b).as("r"))
    val cb = resid.where($"vec_id" >= 8 && $"vec_id" < 24)
      .select(($"vec_id" - 8).as("cid"), $"r")
    val enc = Vectors.pqEncodeKeep(resid, cb, "vec_id", "cid", "r",
      m = 2, dims = 4, keep = Seq("cell")).localCheckpoint()
    val q = e.where($"vec_id" < 6).select($"vec_id".as("qid"), $"v")
    def run(): Seq[(Long, Long, Long)] =
      Vectors.ivfPqTopK(q, enc, cb.withColumnRenamed("r", "v"), c,
        "qid", "vec_id", "cell", "cid", "v", "codes",
        m = 2, dims = 4, k = 5, nProbe = 2)
        .select($"qid", $"vec_id", $"rn").as[(Long, Long, Long)]
        .collect().toSeq.sorted
    val broadcasted = run()
    val fallback =
      try {
        spark.conf.set("graft.ann.maxModelBroadcastBytes", "1")
        run()
      } finally spark.conf.unset("graft.ann.maxModelBroadcastBytes")
    assert(broadcasted.nonEmpty)
    assert(broadcasted === fallback)
  }

  test("HierarchicalFloor dispatch: above-floor k routes two-level") {
    val e = corpus(1400)
    val k = Vectors.HierarchicalFloor // 1024 -> g = 32
    val c = cents(e, k)
    val scaled = Vectors.ivfAssignWithVecScaled(e, c, k, "vec_id", "cid",
      "v").select("vec_id", "cid")
    val hier = Vectors.ivfAssignWithVecHier(e, c, Vectors.hierGroups(k),
      "vec_id", "cid", "v").select("vec_id", "cid")
    assert(scaled.exceptAll(hier).count() === 0)
    assert(hier.exceptAll(scaled).count() === 0)
    // below the floor: the exact flat path
    val cSmall = cents(e, 16)
    val flatDisp = Vectors.ivfAssignWithVecScaled(e, cSmall, 16, "vec_id",
      "cid", "v").select("vec_id", "cid")
    val flat = Vectors.ivfAssignWithVec(e, cSmall, "vec_id", "cid", "v")
      .select("vec_id", "cid")
    assert(flatDisp.exceptAll(flat).count() === 0)
    assert(flat.exceptAll(flatDisp).count() === 0)
  }
}
