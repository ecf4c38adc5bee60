package graft

import org.apache.spark.sql.functions._
import graft.queries.AnnQueries

/** The measured SRP plane sweep behind t10's adaptive banding (r19,
  * built after the standing 1000× probe killed the modeled
  * correction — `extra = ceil_log2(mass/budget)` assumed random
  * collisions halve per plane, but near-dup mass at cos ≈ 0.93
  * shrinks only ×0.88/plane; the under-correction left ~274M
  * realized candidate pairs at 1000× and the verify join's spill
  * filled the disk). The sweep reads measured prefix-rollup masses
  * only, so these properties pin the contract:
  *  - a sparse corpus stays on the occupancy-targeted base planes
  *    (gate SFs must keep their historical bucketing bit-for-bit);
  *  - a replica-dense corpus must DEEPEN the banding until the
  *    measured mass fits the 8·n budget;
  *  - selected mass is minimal-planes-first: every shallower step
  *    must be over budget;
  *  - the +20 cap is the worst-case answer, never exceeded. */
class SrpSweepSpec extends SparkSpec {

  import spark.implicits._

  // deterministic pseudo-random unit-ish vectors from an id seed
  private def vecs(n: Int, seedCol: String = "id") =
    spark.range(n).select($"id".as("vec_id"),
      array((1 to 64).map(d =>
        ((pmod(hash(col(seedCol) * lit(d + 17)), lit(2000))
          .cast("double") - lit(1000.0)) / lit(1000.0))): _*).as("v"))

  test("sparse corpus: sweep keeps the base plane count") {
    val corpus = vecs(4096)
    // base for 4096 rows at 64/bucket target = 6 bits → 64 buckets,
    // random occupancy ~64/bucket → mass ~64·63/2·64 ≈ 129k ≈ 31/row
    // is over an 8/row budget… use the real t10 sizing: base =
    // ceil_log2(n/64), mass at base for a RANDOM corpus sits near
    // 32/row; so to pin "sparse stays at base", budget with the same
    // slack the gate SFs have — measured masses there are ≤ 8/row at
    // base. Use n/8 target planes to emulate that regime instead:
    val base = math.max(8,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max((4096L + 7) / 8, 2L) - 1)).toInt // ~512 buckets ÷ 4096 rows
    val picked = AnnQueries.srpPlaneSweep(corpus, "v", base, 4096L)
    assert(picked == base,
      s"random corpus at low occupancy must keep base=$base, got $picked")
  }

  test("replica-dense corpus: sweep deepens until the measured mass " +
    "fits the budget; cap never exceeded") {
    // 64 base vectors × 256 exact replicas = 16384 rows: every
    // replica family co-buckets at ANY plane count (identical
    // vectors), so family mass C(256,2)·64 ≈ 2.1M pairs = 127/row
    // can NEVER fit an 8/row budget — the sweep must run to its cap
    // and still return (bounded, with the mass on record).
    val dense = spark.range(16384).select($"id".as("vec_id"),
      ($"id" % 64).cast("long").as("b"))
      .select($"vec_id", array((1 to 64).map(d =>
        ((pmod(hash($"b" * lit(d + 17)), lit(2000))
          .cast("double") - lit(1000.0)) / lit(1000.0))): _*).as("v"))
    val base = 8
    val picked = AnnQueries.srpPlaneSweep(dense, "v", base, 16384L)
    assert(picked == base + 20,
      s"exact-replica families defeat any banding depth — the sweep " +
        s"must stop at the cap base+20=${base + 20}, got $picked")
  }

  test("mixed corpus: minimal-planes-first — picked step fits the " +
    "budget, the step below does not") {
    // 512 families × 32 replicas with per-replica jitter on 8 dims:
    // dense enough that base planes are over an 8/row budget, sparse
    // enough that SOME step under the cap fits — the regime where
    // minimal-first selection matters.
    val n = 16384
    val mixed = spark.range(n).select($"id".as("vec_id"),
      ($"id" % 512).cast("long").as("b"))
      .select($"vec_id", $"b", array((1 to 64).map(d =>
        (((pmod(hash($"b" * lit(d + 17)), lit(2000))
          .cast("double") - lit(1000.0)) / lit(1000.0)) +
          (if (d <= 8)
            (pmod(hash($"vec_id" * lit(d + 101)), lit(400))
              .cast("double") - lit(200.0)) / lit(500.0)
           else lit(0.0)))): _*).as("v"))
      .select($"vec_id", $"v")
    val base = 8
    val picked = AnnQueries.srpPlaneSweep(mixed, "v", base, n.toLong)
    assert(picked > base, s"jittered families at base=$base must be " +
      s"over an 8/row budget, got picked=$picked")
    assert(picked < base + 20,
      s"jitter must let some step under the cap fit, got $picked")
    // minimality: re-running the sweep with the budget the PICKED
    // step met, but offering only shallower steps (base' = picked−2
    // with cap 0 — i.e. measuring mass exactly at picked−2), must
    // be over budget. Reuse the sweep itself as the measurement:
    // a sweep from base'=picked−2 must NOT stay at its base.
    val pickedMinus = AnnQueries.srpPlaneSweep(mixed, "v", picked - 2,
      n.toLong)
    assert(pickedMinus > picked - 2,
      s"step below the picked depth ($picked) fit the budget too — " +
        "selection was not minimal-planes-first")
  }
}
