package graft

import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions
import graft.ops.TextOps

/** The plain-SQL surface (`GraftExtensions`, which every
  * `GraftSession` installs): every registered function must be
  * callable from `spark.sql` and agree with its Column-API twin — a
  * SQL-only user gets the same engine. */
class SqlSurfaceSpec extends SparkSpec {

  import spark.implicits._

  test("bloom filter + might_contain compose in SQL and match the " +
    "Column API") {
    Seq("a", "b", "c").toDF("w").createOrReplaceTempView("sql_words")
    Seq("a", "x", "c", "y").toDF("probe")
      .createOrReplaceTempView("sql_probes")
    val got = spark.sql(
      """WITH bf AS (
           SELECT graft_bloom_filter(w, 4096, 3) AS bits
           FROM sql_words)
         SELECT probe, graft_bloom_might_contain(bits, probe) AS hit
         FROM sql_probes, bf ORDER BY probe""").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("a") && got("c"), "members must hit")
    // 4096 bits over 3 entries: false positives are ~impossible
    assert(!got("x") && !got("y"), "non-members must miss")
  }

  test("misra_gries in SQL returns the same candidate set as the " +
    "Column API") {
    val words = Seq.fill(40)("hot") ++ Seq.fill(12)("warm") ++
      (0 until 20).map(i => s"cold$i")
    words.toDF("w").createOrReplaceTempView("sql_mg")
    val sqlCands = spark.sql(
      "SELECT graft_misra_gries(w, 4) AS c FROM sql_mg")
      .collect().head.getSeq[String](0).toSet
    val apiCands = words.toDF("w")
      .agg(graft.functions.AggregateExpressions
        .misraGries(col("w"), 4).as("c"))
      .collect().head.getSeq[String](0).toSet
    assert(sqlCands === apiCands)
    assert(sqlCands.contains("hot"),
      "a >n/4 heavy hitter must be a candidate")
  }

  test("lang_id / text_stats / token_chunks / window_hashes run in " +
    "SQL and match the Column API on real docs") {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).createOrReplaceTempView("sql_docs")
    val sql = spark.sql(
      """SELECT doc_id, graft_lang_id(text) AS lid,
           graft_text_stats(text) AS st,
           size(graft_token_chunks(split(text, '\\s+'), 10)) AS nch,
           size(graft_window_hashes(split(text, '\\s+'), 8)) AS nwh
         FROM sql_docs""").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.get(2).toString,
        r.getInt(3), r.getInt(4))).toMap
    val api = spark.table("sql_docs")
      .select(col("doc_id"),
        SketchExpressions.langId(col("text")).as("lid"),
        SketchExpressions.textStats(col("text")).as("st"),
        size(SketchExpressions.tokenChunks(
          TextOps.tokens(col("text")), 10)).as("nch"),
        size(SketchExpressions.windowHashes(
          TextOps.tokens(col("text")), 8)).as("nwh"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.get(2).toString,
        r.getInt(3), r.getInt(4))).toMap
    assert(sql === api)
  }
}
