package graft

import org.apache.spark.sql.functions._

import graft.ops.{Joins, Sessions}

class SessionsRangeSpec extends SparkSpec {

  import spark.implicits._

  private def t(h: Int, m: Int = 0) =
    java.sql.Timestamp.valueOf(f"2021-05-01 $h%02d:$m%02d:00")

  test("sessionize breaks at gaps > gapSec") {
    val df = Seq(
      (1L, t(0, 0)), (1L, t(0, 10)), (1L, t(1, 0)), // 50-min gap -> new
      (1L, t(1, 5)), (2L, t(0, 0))).toDF("k", "ts")
    val out = Sessions.sessionStats(df, "ts", Seq("k"), gapSec = 1800)
      .orderBy("k", "session_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
      === Seq((1L, 0L, 2L), (1L, 1L, 2L), (2L, 0L, 1L)))
    assert(out.head.getAs[Long]("duration_us") === 600000000L)
  }

  test("bucketed range join == naive theta join") {
    val left = (0 until 200).map(i => (i % 5L, t(i / 10, (i % 10) * 6)))
      .toDF("k", "ts")
    val right = (0 until 40).map(i =>
      (i % 5L, t(i / 2, (i % 2) * 17), i.toLong))
      .toDF("k", "ts", "rid")
    val bucketed = Joins.rangeJoinBucketed(left, right, Seq("k"), "ts",
      "rid", windowSec = 3600)
      .groupBy("rid").count().orderBy("rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val naive = left.as("l").join(right.as("r"),
      $"l.k" === $"r.k" &&
        unix_micros($"l.ts") >= unix_micros($"r.ts") &&
        unix_micros($"l.ts") < unix_micros($"r.ts") + 3600L * 1000000L)
      .groupBy("rid").count().orderBy("rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketed === naive)
    assert(bucketed.nonEmpty)
  }

  test("SQL extension registration exposes custom functions") {
    Seq(Tuple1("the quick brown fox jumps")).toDF("text")
      .createOrReplaceTempView("ext_docs")
    val row = spark.sql(
      """SELECT graft_word_shingles(split(text, '\\s+'), 3) AS sh,
                graft_simhash32(split(text, '\\s+')) AS sim,
                graft_minhash_sig(split(text, '\\s+'), 4) AS mh
         FROM ext_docs""").head()
    assert(row.getSeq[String](0).length === 3)
    assert(row.getString(1).matches("[01]{32}"))
    assert(row.getSeq[String](2).length === 4)
    val row2 = spark.sql(
      """SELECT graft_bottomk_shingle_hashes(split(text, '\\s+'), 3, 2) AS bk,
                graft_vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                graft_vec_sqdist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS s,
                graft_vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c
         FROM ext_docs""").head()
    assert(row2.getSeq[String](0).length === 2)
    assert(row2.getDouble(1) === 11.0)
    assert(row2.getDouble(2) === 25.0)
    assert(row2.getDouble(3) === 1.0)
  }

  test("KMV bottom-k aggregate: distinct, bounded, merge-invariant") {
    import graft.functions.AggregateExpressions
    // 1000 values with heavy duplication across 8 partitions — the
    // partial buffers MUST merge associatively to the exact global
    // bottom-k of the distinct set, regardless of partitioning.
    val vals = (1 to 1000).map(i => s"v${i % 97}")
    val expected = vals.distinct.map(v =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(v))
      .sorted.take(8)
    for (parts <- Seq(1, 8)) {
      val got = vals.toDF("v").repartition(parts)
        .agg(AggregateExpressions.bottomKStrings(md5($"v"), 8).as("bk"))
        .head().getSeq[String](0)
      assert(got === expected, s"parts=$parts")
    }
    // groups smaller than k return all their distinct values
    val small = Seq("a", "a", "b").toDF("v")
      .agg(AggregateExpressions.bottomKStrings($"v", 8))
      .head().getSeq[String](0)
    assert(small === Seq("a", "b"))
    // SQL surface
    vals.toDF("v").createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(
      "SELECT graft_bottom_k_strings(md5(v), 8) FROM kmv_in")
      .head().getSeq[String](0)
    assert(viaSql === expected)
  }
}
