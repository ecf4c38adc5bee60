package graft

import org.apache.spark.sql.functions._
import graft.sink.TfRecord
import graft.sink.TfRecord.{BytesVal, FloatVal, Int64Val}

/** The TFRecord sink is a hand-rolled binary format (framing + proto
  * wire encoding) — every byte-level contract gets its own lock here;
  * t124 gates the distributed end-to-end path against DuckDB. */
class TfRecordSpec extends SparkSpec {

  import spark.implicits._

  test("CRC32C golden: the JDK implementation matches the published " +
    "Castagnoli check value") {
    // public check vector: CRC32C("123456789") = 0xE3069283
    val b = "123456789".getBytes("UTF-8")
    assert(TfRecord.crc32c(b, 0, b.length) === 0xE3069283)
  }

  test("proto Example round-trips every feature shape") {
    val feats = Seq(
      "ids" -> Int64Val(Seq(0L, 1L, 127L, 128L, 300L, Long.MaxValue,
        -1L, Long.MinValue)), // negatives = 10-byte varints
      "empty_ids" -> Int64Val(Nil),
      "txt" -> BytesVal(Seq("héllo\u0000world".getBytes("UTF-8"))),
      "empty_bytes" -> BytesVal(Seq(Array.emptyByteArray)),
      "no_bytes" -> BytesVal(Nil),
      "vec" -> FloatVal(Seq(0.0f, -1.5f, Float.MaxValue,
        Float.MinPositiveValue)),
      "empty_vec" -> FloatVal(Nil))
    val back = TfRecord.decodeExample(TfRecord.encodeExample(feats))
    assert(back.keySet === feats.map(_._1).toSet)
    assert(back("ids") === feats.toMap.apply("ids"))
    assert(back("empty_ids") === Int64Val(Nil))
    assert(back("no_bytes") === BytesVal(Nil))
    assert(back("vec") === feats.toMap.apply("vec"))
    assert(back("empty_vec") === FloatVal(Nil))
    val BytesVal(Seq(t)) = back("txt")
    assert(new String(t, "UTF-8") === "héllo\u0000world")
    val BytesVal(Seq(e)) = back("empty_bytes")
    assert(e.length === 0)
  }

  test("encode is deterministic and name-ordered: permuted feature " +
    "input yields identical bytes") {
    val a = Seq("b" -> Int64Val(Seq(2L)), "a" -> Int64Val(Seq(1L)))
    assert(TfRecord.encodeExample(a).toSeq ===
      TfRecord.encodeExample(a.reverse).toSeq)
  }

  test("frame: record layout is length·crc(length)·data·crc(data), " +
    "all little-endian") {
    val data = "payload".getBytes("UTF-8")
    val f = TfRecord.frame(data)
    assert(f.length === 8 + 4 + data.length + 4)
    assert(f(0) === data.length.toByte &&
      f.slice(1, 8).forall(_ == 0), "uint64 LE length")
    assert(f.slice(12, 12 + data.length).toSeq === data.toSeq)
  }

  test("write → read round-trip: records, order, features and CRCs " +
    "all survive; a rewrite is byte-identical") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tfrec-spec").toString
    val df = Seq(
      (5L, "s1", Seq(10L, 20L), "alpha"),
      (1L, "s1", Seq.empty[Long], "beta"),
      (3L, "s2", Seq(7L), "gamma"))
      .toDF("doc_id", "shard", "ids", "src")
    def run() = TfRecord.write(df, dir, "shard", "doc_id",
      Seq("doc_id", "ids"), Seq("src")).collect()
    val manifest = run().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(manifest("s1")._1 === 2L && manifest("s2")._1 === 1L)
    val bytes1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "s1.tfrecord"))
    run() // idempotent overwrite
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "s1.tfrecord")).toSeq ===
      bytes1.toSeq, "a rewrite of the same data must be byte-identical")
    assert(manifest("s1")._2 === bytes1.length,
      "manifest n_bytes must equal the file size")
    val back = TfRecord.read(spark, dir)
      .as[(String, Long, Array[Byte], Boolean)].collect()
      .sortBy(r => (r._1, r._2))
    assert(back.forall(_._4), "every CRC must verify")
    assert(back.map(r => (r._1, r._2)).toSeq ===
      Seq(("s1", 0L), ("s1", 1L), ("s2", 0L)),
      "records must come back in orderCol order within each shard")
    val first = TfRecord.decodeExample(back(0)._3)
    assert(first("doc_id") === Int64Val(Seq(1L)),
      "s1's first record is the LOWEST doc_id (sorted within shard)")
    val ids = TfRecord.decodeExample(back(1)._3).apply("ids")
    assert(ids === Int64Val(Seq(10L, 20L)))
    val BytesVal(Seq(src)) =
      TfRecord.decodeExample(back(2)._3).apply("src")
    assert(new String(src, "UTF-8") === "gamma")
  }

  test("a corrupt record fails its CRC and a corrupt length header " +
    "quarantines the tail instead of running away") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tfrec-corrupt").toString
    val df = (0L until 6L).map(i => (i, "s", Seq(i), s"d$i"))
      .toDF("doc_id", "shard", "ids", "src")
    TfRecord.write(df, dir, "shard", "doc_id",
      Seq("doc_id", "ids"), Seq("src")).collect()
    val p = java.nio.file.Paths.get(dir, "s.tfrecord")
    // the sink writes through Hadoop's checksummed LocalFileSystem —
    // drop its .crc sidecar so the OUT-OF-BAND corruption below
    // reaches OUR per-record CRCs instead of Hadoop's file checksum
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, ".s.tfrecord.crc"))
    val raw = java.nio.file.Files.readAllBytes(p)
    // flip one DATA byte of record 0 (offset 12 = first payload byte)
    val flipped = raw.clone(); flipped(12) = (flipped(12) ^ 0x01).toByte
    java.nio.file.Files.write(p, flipped)
    val r1 = TfRecord.read(spark, dir)
      .as[(String, Long, Array[Byte], Boolean)].collect().sortBy(_._2)
    assert(r1.length === 6)
    assert(!r1(0)._4 && r1.drop(1).forall(_._4),
      "exactly the flipped record fails its data CRC; framing intact")
    // corrupt the LENGTH header of record 2: the tail after it is
    // undelimitable — reader must emit one poison row and stop
    val off2 = r1.take(2).map(16 + _._3.length).sum
    val flip2 = raw.clone(); flip2(off2) = (flip2(off2) ^ 0x40).toByte
    java.nio.file.Files.write(p, flip2)
    val r2 = TfRecord.read(spark, dir)
      .as[(String, Long, Array[Byte], Boolean)].collect().sortBy(_._2)
    assert(r2.length === 3, s"tail must quarantine, got ${r2.length}")
    assert(r2.take(2).forall(_._4) && !r2(2)._4)
  }

  test("embedding shards: float features round-trip bit-exact (real " +
    "embeddings table through write → read → decode)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tfrec-emb").toString
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
      .select(col("vec_id"), lit("emb").as("shard"), col("embedding"))
    TfRecord.write(e, dir, "shard", "vec_id",
      Seq("vec_id"), Nil, floatCols = Seq("embedding")).collect()
    val back = TfRecord.read(spark, dir)
      .as[(String, Long, Array[Byte], Boolean)].collect()
    assert(back.length === 50 && back.forall(_._4))
    val decoded = back.map { r =>
      val f = TfRecord.decodeExample(r._3)
      val Int64Val(Seq(id)) = f("vec_id")
      val FloatVal(vs) = f("embedding")
      id -> vs
    }.toMap
    val want = e.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    assert(decoded.keySet === want.keySet)
    want.foreach { case (id, vec) =>
      assert(decoded(id) === vec.toSeq,
        s"embedding $id must round-trip bit-exact")
    }
  }

  test("shard names must be safe path segments") {
    val df = Seq((1L, "a/b", Seq(1L), "x"))
      .toDF("doc_id", "shard", "ids", "src")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tfrec-bad").toString
    val ex = intercept[org.apache.spark.SparkException] {
      TfRecord.write(df, dir, "shard", "doc_id",
        Seq("doc_id", "ids"), Seq("src")).collect()
    }
    assert(ex.getMessage != null)
  }
}
