package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: derive a larger scale factor from an existing testdata
  * dir by unioning `factor` deterministically transformed replicas of
  * the fact tables (dim tables copy through unchanged — broadcast
  * sides stay constant under scale-up, as they would at 100 TB).
  *
  * Purpose: the sf-scaling smoke. Driver testdata tops out at sf0.1,
  * and a single scale point can hide superlinear plan shapes; the
  * round notes record sf1/sf0.1 wall-time ratios for the most
  * expensive queries (target: ~linear, IO-dominated).
  *
  * Replica transforms keep per-replica distributions identical while
  * making replicas distinct where it matters:
  *  - ids shift by r·(max+1) — orders/lineitem stay referentially
  *    consistent; users/docs/vecs become genuinely new entities, so
  *    distinct-count and per-key window cardinalities scale the way a
  *    real 10× corpus would;
  *  - document text rotates vowels (period 5) and digits (period 10)
  *    per replica, so replicas are not trivial copies: dedup sees a
  *    10× corpus with a realistic residual near-dup rate (replica
  *    pairs (r, r+5) share vowel rotation and differ only in digits);
  *  - events keep their time range: 10× denser traffic (the scale-up
  *    shape) rather than a 10× longer history.
  *
  * Usage: runMain graft.DataGen [srcDir] [outDir] [factor] [mode]
  *        [tables]
  * (5th arg: comma-separated table subset to derive — e.g.
  * "embeddings" for an ANN-only scale corpus, skipping the fact
  * tables' multi-GB writes when only one family is being probed.)
  * (4th arg "skew": 80% of documents collapse into one dominant
  * source — the per-group-window stress shape. 4th arg "hihit": an
  * adversarial-but-realistic curation corpus — 60% of documents cite
  * a blocklisted domain and every document pair shares a boilerplate
  * line, so the t66/t87 hit sets and the t80 df>1 line set are
  * corpus-proportional AND large in absolute terms. This is the
  * shape that kills a forced broadcast of those sets; the unhinted /
  * bloom-prefiltered plans must stay ~linear on it.)
  * Writes OUTSIDE the repo (default /tmp/sf1); never touches
  * /root/testdata. */
object DataGen {
  def main(args: Array[String]): Unit = GraftSession.run { spark =>
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val tables: String => Boolean =
      if (args.length > 4) args(4).split(",").toSet else (_ => true)
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      if (tables(name))
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0)
    def stack(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => f(df, r)).reduce(_ unionByName _)
    def rot(s: String, k: Int): String = s.drop(k) + s.take(k)

    // dims: copied, not scaled — the broadcast sides stay small
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t))

    if (tables("orders") || tables("lineitem")) {
      val orders = read("orders")
      val lineitem = read("lineitem")
      // one shared modulus keeps l_orderkey -> o_orderkey referential
      val okMod = math.max(maxOf(orders, "o_orderkey"),
        maxOf(lineitem, "l_orderkey")) + 1
      write(stack(orders)((d, r) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(r * okMod))),
        "orders")
      write(stack(lineitem)((d, r) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(r * okMod))),
        "lineitem")
    }

    // ts passes through untouched in whichever parquet layout it
    // arrived (int64-nanos legacy or timestamp[us] — see queries.Shared.T)
    if (tables("events")) {
      val events = read("events")
      val evMod = maxOf(events, "event_id") + 1
      val userMod = maxOf(events, "user_id") + 1
      write(stack(events)((d, r) =>
        d.withColumn("event_id", col("event_id") + lit(r * evMod))
          .withColumn("user_id", col("user_id") + lit(r * userMod))),
        "events")
    }

    val docs = if (tables("documents")) read("documents") else null
    val docMod = if (docs != null) maxOf(docs, "doc_id") + 1 else 0L
    // skew mode (4th arg "skew"): collapse 80% of documents into ONE
    // dominant source — the real shape of a pretraining corpus (one
    // crawl dwarfs every curated set) and the shape that breaks any
    // plan sorting a whole source through one task. Deterministic
    // (doc_id mod 10), applied after replication so the dominant
    // source also dominates every replica.
    val mode = if (args.length > 3) args(3) else ""
    val skew = mode == "skew"
    val skewed: DataFrame => DataFrame = d =>
      if (!skew) d
      else d.withColumn("source",
        when(pmod(col("doc_id"), lit(10)) < 8, lit("src_dominant"))
          .otherwise(col("source")))
    // hihit mode: docs (2k, 2k+1) share an exactly-10-token PREFIX
    // (tokenChunks(…, 10) chunks from the start, so the pair's chunk 0
    // is identical → df=2 → t80's boilerplate set holds ~nDocs/2
    // lines), and 60% of docs gain a blocklisted-domain citation →
    // t66/t87's hit sets hold ~60% of the corpus. Applied after
    // replication so both sets grow linearly with the factor.
    val hihit = mode == "hihit"
    val hihitted: DataFrame => DataFrame = d =>
      if (!hihit) d
      else d.withColumn("text", concat(
        concat(lit("bpfx"), expr("doc_id DIV 2").cast("string")),
        lit(" shared legal header notice in all rights reserved" +
          " worldwide "),
        col("text"),
        when(pmod(col("doc_id"), lit(5)) < 3,
          lit(" see https://site0.example.org/spam"))
          .otherwise(lit(""))))
    if (docs != null)
    write(hihitted(skewed(stack(docs)((d, r) =>
      d.withColumn("doc_id", col("doc_id") + lit(r * docMod))
        .withColumn("text", translate(col("text"),
          "aeiou0123456789",
          rot("aeiou", r % 5) + rot("0123456789", r % 10)))))),
      "documents")

    // perturb mode (4th arg "perturb"): replica vectors get
    // deterministic per-coordinate noise (uniform ±0.1 from a Murmur3
    // hash of (vec_id, dim); replica 0 stays the original). On the
    // unit-norm corpus that puts each replica at cos ≈ 0.90 to its
    // base — the honest MID-similarity operating point for
    // hierarchical-vs-flat agreement measurement: exact replicas sit
    // ON a centroid, so the r16 100× hierarchical-vs-flat run's
    // 100 % agreement was a replica-data artifact, not an index
    // property.
    val perturb = mode == "perturb"
    if (tables("embeddings")) {
    val vecs = read("embeddings")
    val vecMod = maxOf(vecs, "vec_id") + 1
    write(stack(vecs)((d, r) =>
      d.withColumn("vec_id", col("vec_id") + lit(r * vecMod))
        .withColumn("embedding",
          if (!perturb || r == 0) col("embedding")
          else transform(col("embedding"), (x, i) =>
            (x.cast("double") +
              (pmod(hash(col("vec_id"), i), lit(2001)) - lit(1000))
                .cast("double") / lit(10000.0)).cast("float")))),
      "embeddings")
    }

    println(s"""{"out":"$out","factor":$factor,"src":"$src"}""")
  }
}
