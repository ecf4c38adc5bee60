package graft

/** `Verify`'s optional query filter is checked before any session is
  * built: a typo fails loud instead of silently dumping nothing. */
class VerifySpec extends SparkSpec {
  test("Verify rejects an unknown query name in its filter without " +
    "touching the live session") {
    val sc = spark.sparkContext
    val out = java.nio.file.Files.createTempDirectory("graft-verify-spec")
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array("/root/testdata/sf0.001", out.toString,
        "t1_minhash_sig,t1_minhash_sgi"))
    }
    assert(e.getMessage.endsWith("unknown queries t1_minhash_sgi"))
    assert(!sc.isStopped, "Verify stopped the shared session")
    assert(out.toFile.list().isEmpty, "Verify dumped despite a bad filter")
  }
}
