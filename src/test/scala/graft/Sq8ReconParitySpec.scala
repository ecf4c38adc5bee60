package graft

import org.apache.spark.sql.functions._
import graft.queries.AnnQueries

/** The SQ8 family reconstructs bin midpoints through two code paths:
  * `sq8ReconArr` reads the STORED `codes` column (the search path's
  * 100 TB contract — codes are what the index persists), while
  * `sq8ReconArrFromVu` re-derives the 8-bit code inline from
  * vu/mnu/mxu (the transient-frame form that dodges the
  * CollapseProject 64× inlining blowup). They are arithmetic-identical
  * today, but a future change to the encoding (bin count, clamping)
  * that only touches `sq8CodesCol` would silently desynchronize
  * t140's err_sum and t142/t146's approx side from the stored codes
  * (r19 advice #3) — this spec pins them to each other element-wise
  * over a real corpus. */
class Sq8ReconParitySpec extends SparkSpec {

  test("sq8ReconArrFromVu ≡ sq8ReconArr over a checkpointed encoded " +
    "frame, every row, every coordinate") {
    val pair = AnnQueries
      .sq8ReconPairForTest(spark, "/root/testdata/sf0.001")
    val n = pair.count()
    assert(n > 0, "the fixture corpus must produce encoded rows")
    val diverging = pair
      .where(not(col("recon_codes") === col("recon_vu")))
      .count()
    assert(diverging === 0L,
      "recon-from-stored-codes and recon-fused-from-vu must agree " +
        "on every vector — the encoder and the fused form have " +
        "desynchronized")
  }
}
