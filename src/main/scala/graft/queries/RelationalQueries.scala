package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Stage
import graft.ops._
import Shared._

/** Relational and ETL queries: aggregates, windows, joins, reshapes,
  * sketches over the TPC-H and events tables, the crawl and web-graph
  * steps, and the firn depth recurrence. */
object RelationalQueries {

  /** Cross-engine-stable rounded mean of a NON-NEGATIVE double column:
    * exact integer HALF_UP end-to-end. A plain double avg differs from
    * DuckDB's in the last ulp (partial-agg tree vs sequential
    * summation) and even identical doubles round ties differently
    * (Spark rounds the shortest decimal repr, DuckDB the binary
    * value), so any double-domain round diverges when a group's mean
    * sits exactly on the boundary — observed at sf0.1 on q10/q24
    * (means like 1083.87/24 = 45.16125).
    *
    * Here: I = Σ round8(v)·10⁸ (exact, order-independent),
    * rounded mean = floor((2I + n·10^{8-scale}) / (2n·10^{8-scale}))
    * / 10^scale. The floor's double division is exact while the
    * NUMERATOR 2I + n·10^{8-scale} < 2^53, i.e. per-group Σv below
    * ~4.5·10⁷ — fine here; a larger corpus lifts I into decimal DIV.
    * Other rounded means in the registry keep plain round(): integer-
    * valued inputs sum exactly in doubles, so only an exact .5-tie
    * (denominator 2^a·5^b group counts) can diverge — migrate any
    * that ever fails the sf0.1 spot-check to this helper. DuckDB twin:
    * CAST((2*CAST(sum(CAST(v AS DECIMAL(24,8)))*100000000 AS HUGEINT)
    * + count(v)*10^{8-scale}) // (2*count(v)*10^{8-scale}) AS DOUBLE)
    * / 10^scale. */
  private def stableAvg(c: Column, scale: Int): Column = {
    val down = math.pow(10, 8 - scale).toLong // 10^{8-scale}
    val I = sum((c.cast("decimal(24,8)") * lit(100000000L))
      .cast("decimal(38,0)"))
    val n = count(c)
    val num = I * 2 + n * down // decimal: exact, cannot wrap to a long
    // The preconditions above are ENFORCED, not just documented: a
    // negative input makes floor-based HALF_UP round toward +inf
    // (the oracle's // rounds toward −inf ⇒ silent divergence), and a
    // numerator at/over 2^53 loses integer precision in the double
    // divide. assert_true rides along in the aggregate output row
    // (null when the guard holds, added as 0.0), so a violation makes
    // the query ERROR instead of returning a subtly wrong mean.
    // both legs null-safe: an all-null group has min/num null, which
    // must keep returning a null mean (as before the guard), not error.
    // negativity is tested in the decimal(24,8) domain the sum actually
    // uses — raw double noise like -1e-9 rounds to 0 there and computes
    // an exact, oracle-identical mean, so it must not trip the guard
    // the third leg catches PER-VALUE decimal(24,8) overflow: a value
    // >= 1e16 casts to null under non-ANSI (silently dropping out of
    // the sum while staying in count(c) — the mean would skew with
    // both other legs green); under Spark 4's default ANSI the cast
    // throws outright — loud either way
    val guard = assert_true(
      coalesce(min(c.cast("decimal(24,8)")) >= 0, lit(true)) &&
        coalesce(abs(num) < lit(9.007199254740992e15), lit(true)) &&
        count(c) === count(c.cast("decimal(24,8)")),
      lit(s"stableAvg: negative input or numerator >= 2^53 " +
        s"(scale=$scale) — result would silently diverge from the " +
        "integer-exact oracle twin"))
    floor(num.cast("double") / (n * down * 2).cast("double"))
      .cast("double") / math.pow(10, scale) +
      coalesce(guard.cast("double"), lit(0.0))
  }

  /** Cross-engine-stable rounded SUM of a money-valued double
    * expression: per-row HALF_UP quantization to 8 dp via the decimal
    * cast (deterministic from identical doubles — the stableAvg
    * pattern), EXACT decimal summation (no float summation order),
    * round to cents, back to double. A plain `round(sum(double), 2)`
    * flips its last cent once group sums reach ~1e10 over 1e5+ rows:
    * Spark's partial-agg tree and DuckDB's sequential sum then differ
    * in the final ulp exactly at a .xx5 boundary — observed on
    * q11/q12 at the sf1 (10×) scale point, invisible at the sf0.1
    * gate. Decimal(24,8) holds 1e16 per row and the sum widens to
    * decimal(34,8): no overflow this side of 1e26. */
  private def moneySum(c: Column): Column =
    round(sum(c.cast("decimal(24,8)")), 2).cast("double")

  /** The x1 fixture's smoothed UDG series — the exact input
    * `Depths.tdrDepth` consumes. */
  private def x1UdgSeries(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .where(col("user_id") === 0)
      .groupBy(date_trunc("hour", col("ts")).as("ts"))
      .agg(((avg("value") - 30.0) / 10.0).as("udg"))

  /** Time-sliced events read with the range predicate applied to the RAW
    * int64(ns) column BEFORE the µs conversion — so it pushes into the
    * parquet scan (PushedFilters: GreaterThanOrEqual/LessThan on ts) and
    * prunes row groups / partitions. Filtering the derived timestamp
    * would read everything at 100 TB. */
  private def eventsBetween(s: SparkSession, dir: String,
                            lo: String, hi: String): DataFrame = {
    // UTC-anchored, NOT java.sql.Timestamp.valueOf (which parses in
    // the JVM default timezone): on a non-UTC host that would shift
    // the nanos-layout window while the NTZ branch and the DuckDB
    // oracle compare wall-clock — same query, layout-dependent rows
    def ns(t: String) =
      java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
    val df = Stage.parquet(s, s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // timestamp[ns] layout
        df.where(col("ts") >= ns(lo) && col("ts") < ns(hi))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case t => // timestamp[us] (NTZ) layout: compare in the column's own
        // domain so the predicate still reaches the parquet scan
        df.where(col("ts") >= lit(lo).cast(t) && col("ts") < lit(hi).cast(t))
          .withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Morton bit-spread of a 16-bit value to the even bit positions —
    * the classic fixed-shift mask cascade ((x|x<<8)&m, (x|x<<4)&m, …),
    * emitted as a SQL string so the Spark query and the DuckDB twin
    * compute the IDENTICAL integer expression (pure &/|/<< — both
    * engines bit-exact on non-negative longs). Textual inlining
    * duplicates the base subexpression; that is deliberate — the ops
    * are integer-cheap and a single shared definition beats a
    * hand-tuned but divergent pair. */
  private def zSpread(c: String): String = {
    val a = s"((($c) | (($c) << 8)) & 16711935)"
    val b = s"(($a | ($a << 4)) & 252645135)"
    val d = s"(($b | ($b << 2)) & 858993459)"
    s"(($d | ($d << 1)) & 1431655765)"
  }

  private val urlAugSql: String =
    """a AS (
         SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' see https://site' || (doc_id % 7)
                     || '.example.org/p' || doc_id
                     || ' and http://host' || (doc_id % 3) || '.net/q'
                ELSE text END AS aug
         FROM documents),
       u AS (
         SELECT doc_id,
           unnest(regexp_extract_all(aug,
             '(?i)https?://([A-Za-z0-9.-]+)', 1)) AS domain
         FROM a)"""

  /** PageRank iteration CTEs for the t74 oracle — the SQL twin of
    * `Graph.pageRankPpm`'s loop, unrolled (one c/d/r CTE triple per
    * Jacobi round; DuckDB `//` ≡ Spark `div` on the all-positive
    * operands here). Generated from one template so the three rounds
    * cannot drift from each other; expects CTEs `en` (src, dst,
    * p = ppb edge probability), `outw` (src), `nodes` (node),
    * `nn` (n) and `r0` (node, r) to be in scope. */
  private def pageRankIterSql(iters: Int): String =
    (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
           SELECT en.dst AS node,
             sum((85 * $prev.r * en.p) // 100000000000) AS c
           FROM $prev JOIN en ON $prev.node = en.src GROUP BY 1),
         d$i AS (
           SELECT coalesce(sum(r), 0) AS d FROM $prev
           WHERE node NOT IN (SELECT src FROM outw)),
         r$i AS (
           SELECT nodes.node,
             (1000000 * 15) // (100 * nn.n)
               + (85 * d$i.d) // (100 * nn.n)
               + coalesce(c$i.c, 0) AS r
           FROM nodes CROSS JOIN nn CROSS JOIN d$i
           LEFT JOIN c$i ON c$i.node = nodes.node)"""
    }.mkString(",\n         ")

  /** Host link-graph + 3-round PageRank CTE block shared by the t74,
    * t77 and t94 oracles (`r3` = (node, r) final integer-ppm ranks).
    * ONE definition so the rank artifact its consumers join cannot
    * drift from the artifact itself. */
  private val hostRankSql: String =
    s"""$urlAugSql,
         edges AS (
           SELECT 'site' || (doc_id % 7) || '.example.org' AS src,
             lower(domain) AS dst, count(*) AS w
           FROM u
           WHERE lower(domain) <> 'site' || (doc_id % 7)
             || '.example.org'
           GROUP BY 1, 2),
         outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
         en AS (
           SELECT e.src, e.dst, (1000000000 * e.w) // o.ow AS p
           FROM edges e JOIN outw o USING (src)),
         nodes AS (
           SELECT src AS node FROM edges
           UNION SELECT dst FROM edges),
         nn AS (SELECT count(*) AS n FROM nodes),
         r0 AS (SELECT node, 1000000 // n AS r FROM nodes CROSS JOIN nn),
         ${pageRankIterSql(3)}"""

  /** Each document's hosting site under the t19/t66 planted-URL
    * convention — the doc→host key shared by t74 (edge sources) and
    * t77 (curation grouping). */
  private def hostingSite: Column =
    concat(lit("site"), (col("doc_id") % 7).cast("string"),
      lit(".example.org"))

  /** The host link-graph rank artifact (node, rank_ppm) shared by t74
    * (the artifact itself) and t77 (its per-host consumer): citation
    * edges from each doc's hosting site to every domain its text
    * cites, ranked by `Graph.pageRankPpm`. Materialize-once contract
    * at corpus scale — the table is host-cardinality. */
  private def hostRanks(s: SparkSession, dir: String): DataFrame = {
    // domains lower()ed per RFC 4343 (the t66 rule) BEFORE the
    // self-link gate and the edge rollup: a doc citing its own host
    // in uppercase must not mint a phantom graph node that siphons
    // rank mass (urlDomains preserves case; hosting sites are
    // lowercase literals)
    val edges = T(s, dir, "documents")
      .select(hostingSite.as("src_host"),
        explode(TextOps.urlDomains(urlAugmented)).as("__d"))
      .select(col("src_host"), lower(col("__d")).as("dst_host"))
      .where(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("w"))
    Graph.pageRankPpm(edges, "src_host", "dst_host", "w", iters = 3)
  }

  /** Deterministic URL augmentation shared by t19 and t66 (the
    * synthetic corpus has no URLs, so every 5th doc gets a planted
    * footer; both engines build the same augmented text). ONE Scala
    * definition so the planted-URL scheme cannot desynchronize
    * between the two queries' Spark sides; their SQL twins carry the
    * same literal. */
  private def urlAugmented: Column = {
    val footer = concat(
      lit(" see https://site"), (col("doc_id") % 7).cast("string"),
      lit(".example.org/p"), col("doc_id").cast("string"),
      lit(" and http://host"), (col("doc_id") % 3).cast("string"),
      lit(".net/q"))
    when(col("doc_id") % 5 === 0, concat(col("text"), footer))
      .otherwise(col("text"))
  }

  /** DuckDB twin of [[stableAvg]] at scale 4 over a column expr. */
  private def stableAvgSql(col: String): String =
    s"""CAST((2 * CAST(sum(CAST($col AS DECIMAL(24,8)))
       |                          * 100000000 AS HUGEINT)
       |               + count($col) * 10000)
       |              // (20000 * count($col)) AS DOUBLE) / 10000""".stripMargin

  val all: Seq[Query] = Seq(
    // A4/A6 — grouped aggregation (sums, avg, count) with partial (map-side)
    // aggregation; single shuffle on the two low-cardinality keys.
    Query("q1_agg", (s, dir) => {
      T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),

    // D1 — exact dedup as DISTINCT projection (dropDuplicates over the
    // projected key set; shuffle on both columns, map-side combine).
    Query("q2_dedup_distinct", (s, dir) =>
      T(s, dir, "events").select("user_id", "event_type").distinct(),
      "SELECT DISTINCT user_id, event_type FROM events"),

    // D2 — ordered keep-first dedup: first event per user in (ts, event_id)
    // arrival order. Deterministic, unlike bare dropDuplicates(key).
    Query("q3_dedup_keepfirst", (s, dir) =>
      Cleaning.dedupKeepFirst(
        T(s, dir, "events").select("user_id", "event_id", "event_type", "ts"),
        Seq("user_id"), Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "event_type"),
      """SELECT user_id, event_id, event_type FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY ts, event_id) = 1"""),

    // P4 — valid-range clamp to null, row kept. Pure expression: stays in
    // whole-stage codegen, no shuffle.
    Query("q4_clamp", (s, dir) =>
      T(s, dir, "events").select(col("event_id"),
        Ranges.clampToNull(col("value"), 0.0, 50.0).as("value_clamped")),
      """SELECT event_id,
         CASE WHEN value BETWEEN 0.0 AND 50.0 THEN value END AS value_clamped
         FROM events"""),

    // A4 — time-bucketed aggregate (resample-to-hour): date_trunc + groupBy.
    Query("q5_hourly", (s, dir) =>
      T(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(stableAvg(col("value"), 4).as("avg_value"),
          count(lit(1)).as("n")),
      s"""SELECT date_trunc('hour', ts) AS hour,
         ${stableAvgSql("value")} AS avg_value, count(*) AS n
         FROM events GROUP BY 1"""),

    // W1 — trailing 2-day rolling median per key over a time-range frame.
    // Exact median as a window aggregate; frame is (t-2d, t] in µs matching
    // pandas' right-closed offset windows.
    Query("q6_rolling_median", (s, dir) => {
      val e = T(s, dir, "events")
      e.select(col("user_id"), col("event_id"),
        round(Windows.rollingTrailing(Windows.med, col("value"), col("ts"),
          Seq(col("user_id")), 2 * 86400), 4).as("med_2d"))
    },
      """SELECT user_id, event_id,
         round(median(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 172799999999 PRECEDING AND CURRENT ROW), 4)
           AS med_2d
         FROM events"""),

    // W2 — centered 4-day rolling median with min_periods=5.
    Query("q6c_rolling_centered", (s, dir) => {
      val e = T(s, dir, "events")
      e.select(col("user_id"), col("event_id"),
        round(Windows.rollingCentered(Windows.med, col("value"), col("ts"),
          Seq(col("user_id")), 4 * 86400, minPeriods = 5), 4).as("med_c"))
    },
      """SELECT user_id, event_id,
         CASE WHEN count(value) OVER w >= 5
              THEN round(median(value) OVER w, 4) END AS med_c
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 172799999999 PRECEDING AND 172800000000 FOLLOWING)"""),

    // W6 — lag difference: microseconds since the user's previous event.
    Query("q7_lag_diff", (s, dir) => {
      val e = T(s, dir, "events")
      e.select(col("user_id"), col("event_id"),
        Windows.lagDiff(unix_micros(col("ts")), Seq(col("user_id")),
          Seq(col("ts"), col("event_id"))).as("dt_us"))
    },
      """SELECT user_id, event_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS dt_us
         FROM events"""),

    // W3 — limited forward-fill: clamp >30 to null, then ffill at most 3
    // consecutive nulls per user in event-time order.
    Query("q8_ffill_limit", (s, dir) => {
      val base = T(s, dir, "events").select(col("user_id"), col("event_id"),
        col("ts"), Ranges.clampToNull(col("value"), Double.MinValue, 30.0)
          .as("v"))
      Windows.ffillLimited(base, "v", "ts", Seq("user_id"), limit = 3,
        tiebreakCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("v").as("v_filled"))
    },
      """WITH base AS (
           SELECT user_id, event_id, ts,
             CASE WHEN value <= 30.0 THEN value END AS v FROM events),
         runs AS (
           SELECT *,
             count(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
             last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
           FROM base)
         SELECT user_id, event_id,
           CASE WHEN v IS NOT NULL THEN v
                WHEN row_number() OVER (PARTITION BY user_id, run
                  ORDER BY ts, event_id) - 1 <= 3 THEN filled END AS v_filled
         FROM runs"""),

    // W5 — linear interpolation over event-time of the nulled-out values;
    // leading nulls stay null, trailing nulls carry the last value.
    Query("q9_interpolate", (s, dir) => {
      val base = T(s, dir, "events").select(col("user_id"), col("event_id"),
        col("ts"), Ranges.clampToNull(col("value"), Double.MinValue, 30.0)
          .as("v"))
      Windows.interpolateLinear(base, "v", "ts", Seq("user_id"),
        tiebreakCols = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          round(col("v"), 6).as("v_interp"))
    },
      """WITH base AS (
           SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN value <= 30.0 THEN value END AS v FROM events),
         ctx AS (
           SELECT *,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER wp AS pt,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER wn AS nt
           FROM base
           WINDOW wp AS (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wn AS (PARTITION BY user_id ORDER BY t, event_id
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, event_id,
           round(CASE WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (t - pt) / (nt - pt)
             WHEN pv IS NOT NULL THEN pv END, 6) AS v_interp
         FROM ctx"""),

    // W3 (grid) — hourly aggregate, then a per-key regular grid spanning
    // each key's range so empty buckets surface as null rows.
    Query("q10_grid", (s, dir) => {
      val h = T(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(stableAvg(col("value"), 4).as("v"))
      Windows.resampleGrid(h, "hour", Seq("event_type"), 3600)
        .select("event_type", "hour", "v")
    },
      s"""WITH h AS (
           SELECT event_type, date_trunc('hour', ts) AS hour,
             ${stableAvgSql("value")} AS v FROM events GROUP BY 1, 2),
         span AS (SELECT event_type, min(hour) AS t0, max(hour) AS t1
           FROM h GROUP BY 1),
         grid AS (SELECT event_type,
           unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour
           FROM span)
         SELECT g.event_type, g.hour, h.v
         FROM grid g LEFT JOIN h USING (event_type, hour)"""),

    // J4 — broadcast dim join: lineitem ⋈ broadcast(part), revenue per
    // brand. The big side never shuffles; only the 6-row result does.
    Query("q11_join_broadcast", (s, dir) =>
      T(s, dir, "lineitem")
        .join(broadcast(T(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n")),
      """SELECT p_brand,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand"""),

    // Multi-join with filter (TPC-H Q5 shape): customer⋈nation⋈orders⋈
    // lineitem; the status filter pushes into the orders scan, nation
    // broadcasts, and Catalyst/AQE order the rest.
    Query("q12_join_multi", (s, dir) =>
      T(s, dir, "customer")
        .join(broadcast(T(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(T(s, dir, "orders").where(col("o_orderstatus") === "F"),
          col("o_custkey") === col("c_custkey"))
        .join(T(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("n_name")
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n")),
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F'
         GROUP BY n_name"""),

    // J6 — as-of join: each click gets the user's most recent purchase
    // value at-or-before it. Union-tag + one window pass — no range probe.
    Query("q13_asof", (s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = Cleaning.dedupKeepFirst(
        e.where(col("event_type") === "purchase")
          .select("user_id", "ts", "value", "event_id"),
        Seq("user_id", "ts"), Seq(col("event_id").desc))
        .select("user_id", "ts", "value")
      Joins.asOfJoin(clicks, purchases, Seq("user_id"), "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          col("value").as("last_purchase_value"))
    },
      """WITH clicks AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase'
           QUALIFY row_number() OVER (PARTITION BY user_id, ts
             ORDER BY event_id DESC) = 1)
         SELECT c.event_id, c.user_id, p.value AS last_purchase_value
         FROM clicks c ASOF LEFT JOIN purchases p
           ON c.user_id = p.user_id AND p.ts <= c.ts"""),

    // J1 — union-by-name across drifting column sets (missing → null).
    Query("q14_union", (s, dir) => {
      val e = T(s, dir, "events")
      e.select("event_id", "user_id").unionByName(
        e.select("event_id", "value"), allowMissingColumns = true)
    },
      """SELECT event_id, user_id FROM events
         UNION ALL BY NAME
         SELECT event_id, value FROM events"""),

    // Anti join — customers with no pending orders (NOT EXISTS shape);
    // the status filter pushes below the anti join into the orders scan.
    Query("q15_antijoin", (s, dir) =>
      T(s, dir, "customer").join(
        T(s, dir, "orders").where(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')"""),

    // A1/A2 — exact per-key median + deterministic mode (ties → smallest)
    // fused into ONE aggregation: a single shuffle on user_id, no join.
    // mode(col, deterministic=true) breaks count ties by smallest value,
    // matching the reference's (count DESC, value ASC) modal pick.
    Query("q16_median_mode", (s, dir) =>
      T(s, dir, "events").groupBy("user_id")
        .agg(round(median(col("value")), 4).as("med"),
          mode(col("event_type"), deterministic = true).as("mode_type")),
      """WITH med AS (
           SELECT user_id, round(median(value), 4) AS med
           FROM events GROUP BY 1),
         cnt AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         md AS (
           SELECT user_id, event_type AS mode_type FROM cnt
           QUALIFY row_number() OVER (PARTITION BY user_id
             ORDER BY n DESC, event_type) = 1)
         SELECT user_id, med, mode_type FROM med JOIN md USING (user_id)"""),

    // C3 — piecewise step correction: cumulative offsets applied to all
    // data at/after each change point (pure chained CASE, codegen'd).
    Query("q17_piecewise", (s, dir) => {
      val off = Joins.piecewiseOffset(col("ts"), Seq(
        java.sql.Timestamp.valueOf("2024-01-10 00:00:00") -> 0.5,
        java.sql.Timestamp.valueOf("2024-01-20 00:00:00") -> 0.25))
      T(s, dir, "events").select(col("event_id"),
        round(col("value") - off, 4).as("value_corrected"))
    },
      """SELECT event_id,
         round(value - CASE
           WHEN ts >= TIMESTAMP '2024-01-20 00:00:00' THEN 0.75
           WHEN ts >= TIMESTAMP '2024-01-10 00:00:00' THEN 0.5
           ELSE 0.0 END, 4) AS value_corrected
         FROM events"""),

    // C1+J4 — linear calibration y = m·(1−x)+c with per-key coefficients
    // and mean fallback for keys missing from the dim table.
    Query("q18_calibration", (s, dir) => {
      import s.implicits._
      val coef = Seq(("click", 2.0, 0.5), ("view", 1.5, -0.2))
        .toDF("event_type", "m", "c")
      Joins.lookupWithFallback(T(s, dir, "events"), coef, "event_type",
        Seq("m", "c"))
        .select(col("event_id"),
          round(Calibration.linear(col("value"), col("m"), col("c"),
            oneMinus = true), 6).as("cal"))
    },
      """WITH coef(event_type, m, c) AS (
           VALUES ('click', 2.0, 0.5), ('view', 1.5, -0.2)),
         fb AS (SELECT avg(m) AS fm, avg(c) AS fc FROM coef)
         SELECT event_id,
           round(coalesce(m, fm) * (1 - value) + coalesce(c, fc), 6) AS cal
         FROM events LEFT JOIN coef USING (event_type), fb"""),

    // R1 — wide → long unpivot of measure columns (Generate, no shuffle).
    Query("q19_unpivot", (s, dir) =>
      Reshape.toLong(T(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_discount", "l_tax"), "metric", "mval"),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           l_quantity AS mval FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
           FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"""),

    // Top-k per group — row_number with deterministic tiebreak.
    Query("q20_topk", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders
         QUALIFY rn <= 3"""),

    // Rollup — hierarchical subtotals in one pass.
    Query("q21_rollup", (s, dir) =>
      T(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    // P8 — time-range slice; the predicate reaches the parquet scan
    // (PushedFilters on the raw int64 ts) and prunes row groups at scale.
    Query("q22_timeslice", (s, dir) =>
      eventsBetween(s, dir, "2024-01-10 00:00:00", "2024-01-15 00:00:00")
        .select("event_id", "ts", "value"),
      """SELECT event_id, ts, value FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-15 00:00:00'"""),

    // A5 — daily profile: per-type stats of one calendar day (the
    // date_trunc-equality is expressed as a pushable [day, day+1) range).
    Query("q23_daily_profile", (s, dir) =>
      eventsBetween(s, dir, "2024-01-05 00:00:00", "2024-01-06 00:00:00")
        .groupBy("event_type")
        .agg(stableAvg(col("value"), 4).as("avg_value"),
          count(lit(1)).as("n")),
      s"""SELECT event_type, ${stableAvgSql("value")} AS avg_value,
         count(*) AS n
         FROM events
         WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-05 00:00:00'
         GROUP BY event_type"""),

    // J2 — horizontal alignment of two per-type hourly series on the time
    // axis (full-outer join on the hour key).
    Query("q24_align", (s, dir) => {
      val e = T(s, dir, "events")
      def hourly(t: String, alias: String) =
        e.where(col("event_type") === t)
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(stableAvg(col("value"), 4).as(alias))
      Joins.alignOnTime(Seq(hourly("click", "click_avg"),
        hourly("purchase", "purchase_avg")), "hour")
    },
      s"""WITH c AS (
           SELECT date_trunc('hour', ts) AS hour,
             ${stableAvgSql("value")} AS click_avg
           FROM events WHERE event_type = 'click' GROUP BY 1),
         p AS (
           SELECT date_trunc('hour', ts) AS hour,
             ${stableAvgSql("value")} AS purchase_avg
           FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT coalesce(c.hour, p.hour) AS hour, click_avg, purchase_avg
         FROM c FULL JOIN p ON c.hour = p.hour"""),

    // Sessionization: 30-min inactivity gap, per-session rollup (the
    // batch counterpart of streaming session windows).
    Query("q30_sessions", (s, dir) =>
      Sessions.sessionStats(T(s, dir, "events"), "ts", Seq("user_id"),
        gapSec = 1800, tiebreakCols = Seq("event_id"))
        .select("user_id", "session_id", "session_start", "session_end",
          "n_events", "duration_us"),
      """WITH s AS (
           SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                  > 1800000000 THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s2 AS (
           SELECT user_id, ts,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_id
           FROM s)
         SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
         FROM s2 GROUP BY 1, 2"""),

    // Bucketed range join: clicks within 1h after each purchase —
    // bucket-equi-join instead of the quadratic theta join.
    Query("q31_range_join", (s, dir) => {
      val e = T(s, dir, "events")
      val clicks = e.where(col("event_type") === "click")
        .select("user_id", "ts")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"))
      val matched = Joins.rangeJoinBucketed(clicks, purchases,
        Seq("user_id"), "ts", "purchase_id", windowSec = 3600)
        .groupBy("purchase_id").agg(count(lit(1)).as("__m"))
      purchases.select("purchase_id")
        .join(matched, Seq("purchase_id"), "left")
        .select(col("purchase_id"),
          coalesce(col("__m"), lit(0L)).as("n_clicks"))
    },
      """WITH c AS (
           SELECT user_id, ts FROM events WHERE event_type = 'click'),
         p AS (
           SELECT user_id, ts, event_id AS purchase_id FROM events
           WHERE event_type = 'purchase')
         SELECT p.purchase_id, count(c.ts) AS n_clicks
         FROM p LEFT JOIN c
           ON c.user_id = p.user_id
           AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 HOUR
         GROUP BY 1"""),

    // Skew-salted two-phase aggregation — semantically identical to the
    // plain groupBy (the oracle), shuffle spread over 16 sub-keys.
    Query("q34_salted_agg", (s, dir) =>
      Skew.saltedSumCount(T(s, dir, "events"), Seq("event_type"), "value",
        salt = 16)
        .select(col("event_type"),
          round(col("sum_value"), 2).as("sum_v"), col("n")),
      """SELECT event_type, round(sum(value), 2) AS sum_v, count(*) AS n
         FROM events GROUP BY event_type"""),

    // Scalar subquery: orders priced above the global average. Fully
    // lazy: the 1-row aggregate joins back via broadcast, so the whole
    // thing is one plan (AQE/reuse eligible, no job at plan build).
    Query("q32_scalar_subquery", (s, dir) => {
      val o = T(s, dir, "orders")
      val avgPrice = o.agg(avg("o_totalprice").as("__avg"))
      o.join(broadcast(avgPrice))
        .where(col("o_totalprice") > col("__avg"))
        .select("o_orderkey", "o_totalprice")
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"""),

    // IN-subquery (left-semi): lineitems of pending orders.
    Query("q33_in_subquery", (s, dir) => {
      val pending = T(s, dir, "orders")
        .where(col("o_orderstatus") === "P").select("o_orderkey")
      T(s, dir, "lineitem")
        .join(pending, col("l_orderkey") === col("o_orderkey"),
          "left_semi")
        .groupBy("l_returnflag")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
         count(*) AS n
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           WHERE o_orderstatus = 'P')
         GROUP BY l_returnflag"""),

    // Exact distinct-count per group (partial aggregation both phases).
    Query("q25_distinct_count", (s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n")),
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(*) AS n FROM events GROUP BY event_type"""),

    // Cube — all grouping-set combinations. NOT a single-pass cube:
    // Expand×decimal-sum measured 3× slower than the same aggregate
    // without grouping sets (decimal accumulation runs 4× per row
    // under Expand and off the fast path — r10's one cross-round
    // regression, after moneySum switched this from double to exact
    // decimal). Instead aggregate ONCE at the finest grain, then cube
    // the group-cardinality pre-aggregate — decimal addition is exact
    // and associative, so every grouping set's total is bit-identical
    // (asserted vs the single-pass plan at sf0.1), and the Expand
    // runs over |flags×statuses| rows instead of the corpus. This is
    // also the only shape that survives 100 TB: the wide scan feeds
    // one partial-agged groupBy; the lattice work is driver-trivial.
    Query("q26_cube", (s, dir) => {
      val base = T(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast("decimal(24,8)")).as("__s"),
          count(lit(1)).as("__n"))
      base.cube("l_returnflag", "l_linestatus")
        .agg(round(sum("__s"), 2).cast("double").as("sum_price"),
          sum("__n").as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),

    // Exact interpolating quantiles per group (Spark `percentile` ≡
    // DuckDB `quantile_cont`). ONE percentile aggregate over the array
    // of fractions — a single per-group value buffer, where three
    // scalar percentile() calls would each collect their own copy.
    Query("q27_quantiles", (s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(percentile(col("value"),
          array(lit(0.25), lit(0.5), lit(0.9))).as("__p"))
        .select(col("event_type"),
          round(element_at(col("__p"), 1), 4).as("p25"),
          round(element_at(col("__p"), 2), 4).as("p50"),
          round(element_at(col("__p"), 3), 4).as("p90")),
      """SELECT event_type,
         round(quantile_cont(value, 0.25), 4) AS p25,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.9), 4) AS p90
         FROM events GROUP BY event_type"""),

    // JSON field extraction (codegen'd path expression, no UDF).
    Query("q28_json", (s, dir) =>
      T(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(round(avg("k"), 4).as("avg_k"), count(lit(1)).as("n")),
      """SELECT event_type, round(avg(k), 4) AS avg_k, count(*) AS n
         FROM (SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
         GROUP BY event_type"""),

    // String function surface: split/first-token, case, length.
    Query("q29_strings", (s, dir) =>
      T(s, dir, "part").select(col("p_partkey"),
        element_at(split(col("p_name"), " "), 1).as("w1"),
        upper(col("p_brand")).as("ub"),
        length(col("p_name")).cast("long").as("n")),
      """SELECT p_partkey, split_part(p_name, ' ', 1) AS w1,
         upper(p_brand) AS ub, len(p_name) AS n FROM part"""),

    // R1 inverse — long → wide pivot with a STATIC key list (no
    // column-discovery scan) lowered to codegen'd conditional
    // aggregation: per-user summed value per event type.
    Query("q37_pivot", (s, dir) =>
      Reshape.toWide(
        T(s, dir, "events").select("user_id", "event_type", "value"),
        Seq("user_id"), "event_type",
        Seq("click", "error", "purchase", "signup", "view"),
        "value", c => round(sum(c), 2)),
      """SELECT user_id,
         round(sum(value) FILTER (event_type = 'click'), 2) AS click,
         round(sum(value) FILTER (event_type = 'error'), 2) AS error,
         round(sum(value) FILTER (event_type = 'purchase'), 2) AS purchase,
         round(sum(value) FILTER (event_type = 'signup'), 2) AS signup,
         round(sum(value) FILTER (event_type = 'view'), 2) AS view
         FROM events GROUP BY user_id"""),

    // Set operations (distinct semantics), tagged long-form: users who
    // clicked but never erred (EXCEPT) and users who both clicked and
    // purchased (INTERSECT).
    Query("q38_setops", (s, dir) => {
      val e = T(s, dir, "events")
      def ids(t: String) = e.where(col("event_type") === t)
        .select("user_id")
      ids("click").except(ids("error"))
        .select(lit("click_not_error").as("op"), col("user_id"))
        .unionByName(ids("click").intersect(ids("purchase"))
          .select(lit("click_and_purchase").as("op"), col("user_id")))
    },
      """SELECT 'click_not_error' AS op, user_id FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           EXCEPT
           SELECT user_id FROM events WHERE event_type = 'error')
         UNION ALL
         SELECT 'click_and_purchase' AS op, user_id FROM (
           SELECT user_id FROM events WHERE event_type = 'click'
           INTERSECT
           SELECT user_id FROM events WHERE event_type = 'purchase')"""),

    // END-TO-END crawl pipeline — every stage is individually green;
    // this query runs them COMPOSED, because composition (column
    // collisions, layout drift, ordering assumptions) is where
    // pipelines break. The crawl itself is synthesized in-engine from
    // `documents` so the DuckDB twin can verify the whole chain:
    // each doc wraps into HTML (script/style/comment junk included) →
    // an HTTP response → a WARC/1.0 record; records (plus a STALE
    // re-crawl capture for every doc_id%3==0, which latest-capture
    // must drop, and an exact-content MIRROR under a second URL for
    // doc_id%11==7, which content-dedup must drop) concatenate into 8
    // in-memory segments that round-trip through the REAL byte parser
    // (`Warc.records` — the same flatMap file ingest uses). Then:
    // latest-capture per URL → httpBody → htmlToText → t66 blocklist
    // gate → exact-content dedup (keep min url) → t68's packing
    // prefix-sum over the survivors. A stale capture surviving, a
    // mirror kept, or an extraction drift all surface as value
    // mismatches against the oracle, which computes the end state
    // directly from `documents`. Production swaps the synthesis for
    // `readWarcFiles(segments)`; everything downstream is identical.
    Query("t87_warc_pipeline", (s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val pUrl = concat(lit("https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.org/p"), col("doc_id").cast("string"))
      val qUrl = concat(lit("https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.org/q"), col("doc_id").cast("string"))
      def html(body: Column): Column = concat(
        lit("<html><head><script>var x = 1;</script><style>p{}" +
          "</style></head><body><p>"), body,
        lit("</p><!-- crawler junk --></body></html>"))
      def http(h: Column): Column = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
          "charset=utf-8\r\nX-Crawler: graft\r\n\r\n"), h)
      def rec(u: Column, date: String, payload: Column): Column = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), u,
        lit(s"\r\nWARC-Date: $date\r\nContent-Type: application/http; " +
          "msgtype=response\r\nContent-Length: "),
        octet_length(payload).cast("string"),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val live = rec(pUrl, "2026-01-01T00:00:00Z", http(html(urlAugmented)))
      val stale = rec(pUrl, "2025-06-01T00:00:00Z",
        http(html(concat(lit("STALE CAPTURE "), urlAugmented))))
      val mirror = rec(qUrl, "2026-01-01T00:00:00Z",
        http(html(urlAugmented)))
      val recs = docs.select(col("doc_id"), live.as("rec"))
        .unionByName(docs.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), stale.as("rec")))
        .unionByName(docs.where(col("doc_id") % 11 === 7)
          .select(col("doc_id"), mirror.as("rec")))
      // 32 segments (the local parallelism grain; real crawls ship
      // thousands of files); record order inside a segment is sorted
      // (doc_id, bytes) so the synthesized content is deterministic —
      // Content-Length framing makes parse order-insensitive anyway,
      // but the bytes themselves must not depend on task order
      val segments = recs
        .withColumn("path",
          concat(lit("mem://seg"), (col("doc_id") % 32).cast("string")))
        .groupBy("path")
        .agg(array_sort(collect_list(struct(col("doc_id"), col("rec"))))
          .as("rs"))
        .select(col("path"),
          // concat_ws builds the segment in ONE pass; the old
          // aggregate-fold re-copied the accumulated buffer per
          // record — quadratic bytes per segment, 510 s at 100×
          // for what is fixture synthesis, not pipeline work (r14
          // full-suite 100× finding)
          concat_ws("", transform(col("rs"), x => x.getField("rec")))
            .cast("binary").as("content"))
      val parsed = graft.ingest.Warc.records(segments)
      val latest = graft.ingest.Warc.latestCapture(parsed)
      // deliberately NOT cut (r19 probe): both consumers re-enter
      // through the segment/capture exchanges AQE reuses at runtime —
      // a localCheckpoint measured flat at sf0.1 AND at 10× (4.16 s
      // both ways), so the double-extract this would save is not real
      val txt = latest.select(col("url"),
        TextOps.htmlToText(TextOps.httpBody(col("payload"))).as("text"))
      // t66 gate on the EXTRACTED text (the real pipeline order:
      // extraction feeds curation)
      val blockDf = Seq("site0.example.org", "site3.example.org",
        "host2.net").toDF("domain")
      val hits = txt
        .select(col("url"), explode(TextOps.urlDomains(col("text")))
          .as("__d"))
        .select(col("url"), lower(col("__d")).as("domain"))
        .join(broadcast(blockDf), Seq("domain"))
        .select("url").distinct()
      // the hit set is blocked-docs-sized — corpus-proportional on a
      // real crawl, so no broadcast hint: AQE size-gates at runtime
      val gated = txt.join(hits, Seq("url"), "left_anti")
      // exact-content dedup, keep-min-URL (the mirror's /q loses to
      // /p on the same host; a real cross-doc text collision resolves
      // by URL order on both sides)
      val wDup = Window.partitionBy(col("__h")).orderBy(col("url"))
      val kept = gated.withColumn("__h", md5(col("text")))
        .withColumn("__rk", row_number().over(wDup))
        .where(col("__rk") === 1)
        .select(
          regexp_extract(col("url"), "/p([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      // t68's two-level prefix sum (no global one-reducer sort)
      val bucketed = kept.withColumn("__b", expr("doc_id DIV 64"))
      val bucketOff = bucketed.groupBy("__b")
        .agg(sum(col("n_tok")).as("__bs"))
        .withColumn("__off", coalesce(
          sum(col("__bs")).over(Window.orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("__b", "__off")
      val wIn = Window.partitionBy("__b").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      bucketed.join(bucketOff, Seq("__b"))
        .withColumn("start", col("__off") +
          coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
        .select(col("doc_id"), col("n_tok"), col("start"),
          expr("start DIV 2048").as("first_seq"),
          expr("(start + greatest(n_tok, 1) - 1) DIV 2048")
            .as("last_seq"))
    },
      // The end state of the synthesized crawl, computed directly from
      // documents: the WARC wrap/parse round-trip is identity on the
      // augmented text (tags/junk strip back out, whitespace collapses
      // — the corpus is already single-spaced), the stale capture loses
      // latest-capture, the mirror loses content-dedup (same text, /q
      // sorts after /p), so survivors = unblocked docs deduped by
      // content with keep-min-url, packed in doc_id order.
      raw"""WITH $urlAugSql,
         hits AS (
           SELECT DISTINCT doc_id FROM u
           WHERE lower(domain) IN ('site0.example.org',
                                   'site3.example.org', 'host2.net')),
         k0 AS (
           SELECT doc_id, trim(regexp_replace(aug, '\s+', ' ')) AS text,
             'https://site' || (doc_id % 7) || '.example.org/p'
               || doc_id AS url
           FROM a
           WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
         kd AS (
           SELECT doc_id, text FROM k0
           QUALIFY row_number()
             OVER (PARTITION BY md5(text) ORDER BY url) = 1),
         t AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM kd),
         c AS (
           SELECT doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start
           FROM t)
         SELECT doc_id, n_tok, CAST(start AS BIGINT) AS start,
           CAST(start // 2048 AS BIGINT) AS first_seq,
           CAST((start + greatest(n_tok, 1) - 1) // 2048 AS BIGINT)
             AS last_seq
         FROM c"""),

    // Crawl-frontier URL canonicalization + dedup-by-URL: five messy
    // variants of each logical URL (case soup, www., default port,
    // trailing slash, utm_* tracking params, fragments) are planted
    // deterministically, canonicalized (`TextOps.canonicalUrl` — pure
    // per-row string work), and grouped on the canonical key. Variants
    // r∈{0..3} collapse to one URL; r=4 keeps its real `id=` param and
    // stays distinct — stripping must be selective, not "drop the
    // query". At corpus scale this is the frontier-dedup kernel: the
    // canonical key derives map-side, so the whole operator is ONE
    // aggregation shuffle, and the same key is what a 100 TB crawl
    // partitions its URL-seen table by.
    Query("t89_url_canonical", (s, dir) => {
      val g = expr("CAST(doc_id DIV 5 AS STRING)")
      val h = expr("CAST((doc_id DIV 5) % 7 AS STRING)")
      val r = col("doc_id") % 5
      val base = concat(lit("https://site"), h, lit(".example.com/p/"), g)
      val messy = when(r === 0, base)
        .when(r === 1, concat(lit("HTTPS://Site"), h,
          lit(".Example.COM/p/"), g))
        .when(r === 2, concat(lit("https://www.site"), h,
          lit(".example.com:443/p/"), g))
        .when(r === 3, concat(base, lit("/?utm_source=feed&utm_medium=rss")))
        .otherwise(concat(base, lit("?id="), h, lit("&utm_campaign=x#frag")))
      T(s, dir, "documents")
        .select(col("doc_id"), messy.as("url"))
        .withColumn("curl", TextOps.canonicalUrl(col("url")))
        .groupBy("curl")
        .agg(count(lit(1)).as("n_dups"),
          min(col("doc_id")).as("keep_id"),
          countDistinct(col("url")).as("n_variants"))
    },
      // Messy-URL synthesis + canonicalization twin of
      // TextOps.canonicalUrl. Anchored single-occurrence patterns, so
      // DuckDB's replace-first ≡ Spark's replace-all; backref is \1
      // here, $1 there.
      raw"""WITH m AS (
           SELECT doc_id,
             CASE doc_id % 5
               WHEN 0 THEN 'https://site' || ((doc_id // 5) % 7)
                 || '.example.com/p/' || (doc_id // 5)
               WHEN 1 THEN 'HTTPS://Site' || ((doc_id // 5) % 7)
                 || '.Example.COM/p/' || (doc_id // 5)
               WHEN 2 THEN 'https://www.site' || ((doc_id // 5) % 7)
                 || '.example.com:443/p/' || (doc_id // 5)
               WHEN 3 THEN 'https://site' || ((doc_id // 5) % 7)
                 || '.example.com/p/' || (doc_id // 5)
                 || '/?utm_source=feed&utm_medium=rss'
               ELSE 'https://site' || ((doc_id // 5) % 7)
                 || '.example.com/p/' || (doc_id // 5)
                 || '?id=' || ((doc_id // 5) % 7) || '&utm_campaign=x#frag'
             END AS url
           FROM documents),
         c1 AS (SELECT doc_id, url,
             regexp_replace(url, '#.*$$', '') AS nf FROM m),
         c2 AS (SELECT doc_id, url,
             lower(regexp_extract(nf,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(
               lower(regexp_extract(nf,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
               '^www\.', '') AS hostraw,
             regexp_extract(nf,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$$', 1) AS rest
           FROM c1),
         c2b AS (SELECT doc_id, url, scheme, rest,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(hostraw, ':80$$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(hostraw, ':443$$', '')
                  ELSE hostraw END AS host
           FROM c2),
         c3 AS (SELECT doc_id, url, scheme, host,
             CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path,
             regexp_extract(rest, '^[^?]*\?(.*)$$', 1) AS q
           FROM (SELECT *, regexp_replace(
               regexp_extract(rest, '^([^?]*)', 1),
               '(.)/$$', '\1') AS p0 FROM c2b)),
         c4 AS (SELECT doc_id, url, scheme || '://' || host || path ||
             CASE WHEN kq = '' THEN '' ELSE '?' || kq END AS curl
           FROM (SELECT *, COALESCE(array_to_string(list_filter(
               string_split(q, '&'),
               p -> NOT starts_with(p, 'utm_')), '&'), '') AS kq
             FROM c3))
         SELECT curl, CAST(count(*) AS BIGINT) AS n_dups,
           min(doc_id) AS keep_id,
           CAST(count(DISTINCT url) AS BIGINT) AS n_variants
         FROM c4 GROUP BY 1"""),

    // Robots-exclusion gate with LONGEST-MATCH precedence (the Google
    // robots.txt semantics: all rules whose prefix matches the path
    // compete, longest prefix wins, a length tie goes to allow, no
    // match means allow) — the crawl-politeness step between frontier
    // dedup (t89) and fetch. Planted rules per host: disallow /p/,
    // re-allow /p/1 (longest-match must override), and on even hosts
    // disallow /p/12 (a 3-deep precedence chain). Scale shape: the
    // rule table is robots.txt-sized and broadcasts; the winner is an
    // ARGMAX-BY-STRUCT aggregation (partial map-side) rather than a
    // per-URL window — at 100 TB the gate is one broadcast join plus
    // one partial-agged shuffle on doc_id.
    Query("t93_robots_gate", (s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("site"), (col("doc_id") % 7).cast("string"),
          lit(".example.com")).as("host"),
        concat(lit("/p/"), col("doc_id").cast("string")).as("path"))
      val ruleDf = (0 until 7).flatMap { g =>
        Seq((s"site$g.example.com", "disallow", "/p/"),
          (s"site$g.example.com", "allow", "/p/1")) ++
          (if (g % 2 == 0)
            Seq((s"site$g.example.com", "disallow", "/p/12")) else Nil)
      }.toDF("host", "rtype", "prefix")
      val matched = docs.join(broadcast(ruleDf), Seq("host"))
        .where(col("path").startsWith(col("prefix")))
        .groupBy("doc_id")
        .agg(max(struct(length(col("prefix")).as("l"),
          when(col("rtype") === "allow", 1).otherwise(0).as("a"),
          col("prefix").as("p"))).as("m"))
        .select(col("doc_id"), col("m.a").as("__a"),
          col("m.p").as("matched"))
      docs.join(matched, Seq("doc_id"), "left")
        .select(col("doc_id"), col("host"),
          when(col("__a").isNull || col("__a") === 1, "allow")
            .otherwise("block").as("verdict"),
          coalesce(col("matched"), lit("")).as("matched"))
    },
      // Longest-match argmax mirrored as max-of-struct (field-by-field
      // comparison is the same rule in both engines).
      """WITH d AS (
           SELECT doc_id,
             'site' || (doc_id % 7) || '.example.com' AS host,
             '/p/' || doc_id AS path
           FROM documents),
         rules AS (
           SELECT 'site' || g || '.example.com' AS host, rtype, prefix
           FROM generate_series(0, 6) t0(g),
             (VALUES ('disallow', '/p/', 0), ('allow', '/p/1', 0),
                     ('disallow', '/p/12', 1)) v(rtype, prefix, evenonly)
           WHERE evenonly = 0 OR g % 2 = 0),
         m AS (
           SELECT doc_id,
             max(struct_pack(
               l := len(prefix),
               a := CASE WHEN rtype = 'allow' THEN 1 ELSE 0 END,
               p := prefix)) AS mm
           FROM d JOIN rules ON d.host = rules.host
             AND starts_with(d.path, rules.prefix)
           GROUP BY 1)
         SELECT d.doc_id, d.host,
           CASE WHEN m.doc_id IS NULL
                  OR struct_extract(mm, 'a') = 1
             THEN 'allow' ELSE 'block' END AS verdict,
           COALESCE(struct_extract(mm, 'p'), '') AS matched
         FROM d LEFT JOIN m ON d.doc_id = m.doc_id"""),

    // Crawl-frontier scheduling — the artifact a polite priority
    // crawler (the Heritrix/Frontera frontier shape) actually
    // executes: discovered URLs canonicalize and dedup (t89's key),
    // each host forms a FIFO queue ordered by canonical URL, and
    // `fetch_round` r takes the r-th URL of EVERY host — at most one
    // fetch per host per round, the politeness constraint as a
    // per-host window. WITHIN a round, hosts are served by t74's link
    // rank (`pos_in_round`) so important sites drain first; hosts
    // outside the link graph rank 0 and fetch last. Composes three
    // shipped artifacts — canonicalUrl, the t74 rank table (unhinted
    // join: host-cardinality), t89's dedup — because the composed
    // schedule is what a crawler runs, and composition bugs (key
    // drift, column collisions) are what this repo's history says to
    // test. Scale shape: canonical key derives map-side; one agg
    // shuffle dedups; both windows hash-partition on host-cardinality
    // keys (host, then round) — no global sort anywhere.
    Query("t94_frontier_schedule", (s, dir) => {
      val g = expr("CAST(doc_id DIV 14 AS STRING)")
      val h = expr("CAST(doc_id % 7 AS STRING)")
      // two spellings per canonical URL (doc_id and doc_id+7 land on
      // the same key; %3 sprinkles www/bare across both) — enough to
      // prove the dedup seam without re-testing t89's full matrix
      val messy = when(col("doc_id") % 3 === 0,
          concat(lit("https://www.site"), h, lit(".example.org/p/"), g))
        .otherwise(
          concat(lit("https://site"), h, lit(".example.org/p/"), g))
      val frontier = T(s, dir, "documents")
        .select(col("doc_id"), messy.as("url"))
        .withColumn("curl", TextOps.canonicalUrl(col("url")))
        .groupBy("curl").agg(min(col("doc_id")).as("keep_id"))
        .withColumn("host",
          regexp_extract(col("curl"), "^https?://([^/]+)", 1))
      // the rank table is HOST-cardinality (~10⁸ rows × ~30 B at CC
      // scale — GBs, near Spark's broadcast ceiling): no forced hint;
      // AQE broadcasts while it fits and degrades to a host-keyed
      // shuffle (linear, high-cardinality key) past the ceiling
      val ranked = frontier
        .join(hostRanks(s, dir)
          .select(col("node").as("host"), col("rank_ppm")),
          Seq("host"), "left")
        .na.fill(0L, Seq("rank_ppm"))
      // per-host queue position: host is a HIGH-cardinality key with
      // politeness-bounded queues — a plain window is right. The
      // per-round serving order is NOT: round 1 contains every host
      // (10⁸ rows through one task at crawl scale — the same
      // one-task-per-group trap t101/t103 shed this round), so the
      // position comes from twoLevelRank bucketed on the rank score.
      val queueW = Window.partitionBy("host").orderBy(col("curl"))
      val queued = ranked
        .withColumn("fetch_round", row_number().over(queueW).cast("long"))
      Windows.twoLevelRank(queued, Seq("fetch_round"),
          expr("-(rank_ppm DIV 1000)"),
          Seq(col("rank_ppm").desc, col("host")), "pos_in_round")
        .select("curl", "host", "keep_id", "rank_ppm",
          "fetch_round", "pos_in_round")
    },
      // The twin states the canonical key DIRECTLY (both planted
      // spellings normalize to the bare-host form — the www-strip is
      // t89's tested seam, not this query's), then mirrors the two
      // windows; shares the t74 rank CTE block so the schedule and the
      // rank artifact cannot drift.
      s"""WITH $hostRankSql,
         f AS (
           SELECT 'https://site' || (doc_id % 7) || '.example.org/p/'
               || (doc_id // 14) AS curl,
             'site' || (doc_id % 7) || '.example.org' AS host,
             min(doc_id) AS keep_id
           FROM documents GROUP BY 1, 2),
         j AS (
           SELECT f.curl, f.host, f.keep_id,
             CAST(COALESCE(r3.r, 0) AS BIGINT) AS rank_ppm
           FROM f LEFT JOIN r3 ON f.host = r3.node),
         sch AS (
           SELECT *, row_number() OVER (
               PARTITION BY host ORDER BY curl) AS fetch_round
           FROM j)
         SELECT curl, host, keep_id, rank_ppm,
           CAST(fetch_round AS BIGINT) AS fetch_round,
           CAST(row_number() OVER (PARTITION BY fetch_round
             ORDER BY rank_ppm DESC, host) AS BIGINT) AS pos_in_round
         FROM sch"""),

    // Window-rank family: rank/dense_rank/percent_rank/cume_dist over
    // the value ordering (tie-stable — rank functions depend only on
    // the ORDER BY key values) plus lead over a fully-deterministic
    // ordering. event_type has O(5) values — a single-level
    // partitionBy(event_type) window is the one-task-per-group trap
    // (the t101/t103/t94 class, just on a different key), so every
    // rank derives from ONE two-level row_number rn over
    // (value, event_id) with floor(value) buckets (monotone in the
    // order, value-RANGE-bounded → the offset table broadcasts):
    //   rank      = min rn among the row's value-peers
    //   dense     = the value's two-level rank in the PEER table
    //   pct/cd    = (rank−1)/(n−1), max-peer-rn/n — n broadcasts
    //   lead      = the rn+1 row's value via an rn-keyed self-join
    // The peer table (event_type, value) can scale with the corpus,
    // so its joins stay shuffle joins; only the O(types) count table
    // and the bucket offsets broadcast. Plan-locked: no per-type
    // corpus sort, zero SinglePartition.
    Query("q40_window_ranks", (s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      // testdata value is never null; the sentinel keeps the bucket
      // total (nulls sort first in Spark ASC, below every real floor)
      val vBucket = coalesce(floor(col("value")).cast("long"),
        lit(Long.MinValue))
      // ranked feeds four consumers, but deliberately NOT
      // localCheckpointed (r19 probe): all four re-enter through the
      // same rank-window exchange, which AQE reuses at runtime — a cut
      // measured SLOWER (1.82 → 2.24 s) by adding a materialization
      // barrier for no saved work
      val ranked = Windows.twoLevelRank(ev, Seq("event_type"), vBucket,
        Seq(col("value"), col("event_id")), "__rn")
      val n = ranked.groupBy("event_type").agg(count(lit(1)).as("__n"))
      val peers = ranked.groupBy("event_type", "value")
        .agg(min("__rn").as("__minrn"), max("__rn").as("__maxrn"))
      val dr = Windows.twoLevelRank(peers, Seq("event_type"), vBucket,
        Seq(col("value")), "__drnk")
      val nxt = ranked.select(col("event_type"),
        (col("__rn") - 1L).as("__rn"), col("value").as("nxt"))
      ranked
        .join(dr, Seq("event_type", "value"))
        .join(broadcast(n), Seq("event_type"))
        .join(nxt, Seq("event_type", "__rn"), "left")
        .select(col("event_id"), col("event_type"), col("value"),
          col("__minrn").as("rnk"),
          col("__drnk").cast("long").as("drnk"),
          // SQL percent_rank pins the n = 1 partition to 0.0 (the
          // (rank−1)/(n−1) form would be 0/0)
          round(when(col("__n") === 1L, lit(0.0))
            .otherwise((col("__minrn") - 1L).cast("double")
              / (col("__n") - 1L).cast("double")), 6).as("prnk"),
          round(col("__maxrn").cast("double")
            / col("__n").cast("double"), 6).as("cd"),
          col("nxt"))
    },
      """SELECT event_id, event_type, value,
         CAST(rank() OVER wv AS BIGINT) AS rnk,
         CAST(dense_rank() OVER wv AS BIGINT) AS drnk,
         round(percent_rank() OVER wv, 6) AS prnk,
         round(cume_dist() OVER wv, 6) AS cd,
         lead(value) OVER wu AS nxt
         FROM events
         WINDOW wv AS (PARTITION BY event_type ORDER BY value),
           wu AS (PARTITION BY event_type ORDER BY value, event_id)"""),

    // GROUPING SETS beyond rollup/cube's fixed lattices (SQL-only
    // surface in Spark — the Dataset API exposes rollup/cube).
    Query("q41_grouping_sets", (s, dir) => {
      T(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""),

    // Per-domain provenance stats: extract http(s) URL domains, count
    // mentions and distinct documents. The synthetic corpus has no
    // URLs, so a deterministic footer is planted on every 5th doc
    // inside the query (both engines build the same augmented text —
    // same trick as t15). Scan → explode → one agg shuffle keyed by
    // domain (bounded by the domain vocabulary, not the corpus).
    Query("t19_domain_stats", (s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.urlDomains(urlAugmented)).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
    },
      raw"""WITH $urlAugSql
         SELECT domain, count(*) AS n_urls,
           count(DISTINCT doc_id) AS n_docs
         FROM u GROUP BY domain"""),

    // URL/domain blocklist filter (the UT1-blocklist shape — the
    // standard crawl-curation step right after WARC extraction): drop
    // every document citing a blocked domain. The blocklist is a
    // broadcast (real UT1 is ~4M rows — still broadcast range,
    // BOUNDED by the list, not the corpus). The hit set is NOT
    // bounded — spam/blocklisted content is a sizable corpus fraction
    // of a real crawl — so the doc-id anti-join carries no hint: AQE
    // broadcasts it when it measures small and falls back to a
    // doc_id-keyed shuffle (linear, skew-free) when it doesn't.
    // Same deterministic URL augmentation as t19 so some docs hit.
    Query("t66_url_blocklist", (s, dir) => {
      import s.implicits._
      val blockDf = Seq("site0.example.org", "site3.example.org",
        "host2.net").toDF("domain")
      val hits = T(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.urlDomains(urlAugmented)).as("__d"))
        // hostnames are case-insensitive (RFC 4343): normalize before
        // the membership join or "BAD.example.org" bypasses the gate
        .select(col("doc_id"), lower(col("__d")).as("domain"))
        .join(broadcast(blockDf), Seq("domain"))
        .select("doc_id").distinct()
      T(s, dir, "documents")
        .join(hits, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    },
      raw"""WITH $urlAugSql,
         hits AS (
           SELECT DISTINCT doc_id FROM u
           WHERE lower(domain) IN ('site0.example.org',
                                   'site3.example.org', 'host2.net'))
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM hits)"""),

    // Host-level PageRank over the crawl link graph — the link-based
    // host-quality prior (Common Crawl ships exactly this artifact;
    // curation pipelines join it back as a document quality signal).
    // Edges: each document's hosting site (site{doc_id%7} — the t19/
    // t66 URL convention) links to every domain its text cites, self-
    // links dropped, weighted by citation count. Rank = 3 fixed
    // Jacobi iterations in integer-ppm arithmetic (`Graph.pageRankPpm`
    // — floor division end-to-end, so the DuckDB twin is bit-exact;
    // see the operator's scaladoc for the per-iteration plan shape).
    Query("t74_host_pagerank", (s, dir) =>
      hostRanks(s, dir).select(col("node").as("host"), col("rank_ppm")),
      s"""WITH $hostRankSql
         SELECT node AS host, CAST(r AS BIGINT) AS rank_ppm FROM r3"""),

    // Per-host curation table — the FineWeb-style domain decision
    // artifact: for every hosting site, its document count, exact-dup
    // rate (docs whose text hash repeats WITHIN the host), mean doc
    // size, and the t74 link rank — the four signals a keep/drop/
    // downweight decision per domain reads together. Two partial-agged
    // shuffles ((host,hash) then host); the rank artifact is
    // host-cardinality and joins unhinted (AQE-sized). Integer outputs
    // (ppm / x100 fixed-point floor division) — exact oracle twin,
    // which shares the t74 rank CTE block so artifact and consumer
    // cannot drift.
    Query("t77_host_curation", (s, dir) => {
      val byHash = T(s, dir, "documents")
        .select(hostingSite.as("host"), md5(col("text")).as("h"),
          col("n_chars"))
        .groupBy("host", "h")
        .agg(count(lit(1)).as("c"), sum("n_chars").as("sc"))
      val perHost = byHash.groupBy("host")
        .agg(sum("c").as("n_docs"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("nd"),
          sum("sc").as("sch"))
      // host-cardinality rank table (~10⁸ rows at CC scale, near the
      // broadcast ceiling) — unhinted: AQE broadcasts while it fits
      perHost.join(hostRanks(s, dir)
          .select(col("node").as("host"), col("rank_ppm").as("__r")),
          Seq("host"), "left")
        .select(col("host"), col("n_docs"),
          expr("(1000000 * nd) div n_docs").as("dup_ppm"),
          expr("(100 * sch) div n_docs").as("chars_x100"),
          coalesce(col("__r"), lit(0L)).as("rank_ppm"))
    },
      s"""WITH $hostRankSql,
         hx AS (
           SELECT 'site' || (doc_id % 7) || '.example.org' AS host,
             md5(text) AS h, n_chars
           FROM documents),
         bh AS (
           SELECT host, h, count(*) AS c, sum(n_chars) AS sc
           FROM hx GROUP BY 1, 2),
         ph AS (
           SELECT host, sum(c) AS n_docs,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS nd,
             sum(sc) AS sch
           FROM bh GROUP BY 1)
         SELECT ph.host, CAST(n_docs AS BIGINT) AS n_docs,
           CAST((1000000 * nd) // n_docs AS BIGINT) AS dup_ppm,
           CAST((100 * sch) // n_docs AS BIGINT) AS chars_x100,
           CAST(coalesce(r.r, 0) AS BIGINT) AS rank_ppm
         FROM ph LEFT JOIN r3 r ON r.node = ph.host"""),

    // Reciprocal-rank fusion of independent curation signals (the
    // standard multi-signal combiner — Cormack et al. 2009): each doc
    // is ranked globally under three orthogonal signals (reference-LM
    // quality, hosting-site link authority, document size), and the
    // fused score Σ 1e6 div (60 + rank_i) selects the final top-50.
    // All three rankings are exact and distributed: the two corpus-
    // sized ones go through `Windows.twoLevelRank` (no one-reducer
    // global sort); the host ranking is host-cardinality (a tiny
    // window) inherited through a broadcast join. Integer floor
    // division end-to-end — no float ties, exact DuckDB twin (which
    // shares the LM-score and host-rank CTE blocks). Docs without an
    // LM score (no bigrams / no reference LM for their language) drop,
    // as in t75.
    Query("t78_rrf_fusion", (s, dir) => {
      val docs = T(s, dir, "documents")
      val (bg0, ug0, vsz) =
        TextOps.bigramLm(docs.where(col("source") === "src0"),
          "lang", "text")
      // (doc_id, lm_lp) is narrow (~16 B/row) but its lineage is the
      // whole LM train+score pipeline (two reference-corpus count
      // passes + the corpus bigram explode/score pass); twoLevelRank
      // consumes its input twice (bucket counts + join back), so
      // without the cut the scoring pipeline executes twice (r19
      // measured). localCheckpoint materializes the narrow score table
      // once — the same two-consumer contract as t129/t137b.
      val lm = TextOps.bigramLmScore(docs, "doc_id", "lang", "text",
          bg0, ug0, vsz)
        .select(col("doc_id"), col("lm_lp"))
        .localCheckpoint(false)
      val rLm = Windows.twoLevelRank(lm, Seq.empty,
          (-floor(col("lm_lp") * 10)).cast("long"),
          Seq(col("lm_lp").desc, col("doc_id")), "r_lm")
        .select(col("doc_id"), col("r_lm"))
      val hostPos = hostRanks(s, dir)
        .withColumn("r_host", row_number().over(
          Window.orderBy(col("rank_ppm").desc, col("node")))
          .cast("long"))
        .select(col("node").as("host"), col("r_host"))
      val rHost = T(s, dir, "documents")
        .select(col("doc_id"), hostingSite.as("host"))
        .join(broadcast(hostPos), Seq("host"))
        .select(col("doc_id"), col("r_host"))
      val rSize = Windows.twoLevelRank(
          T(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          Seq.empty, expr("-(n_chars div 100)").cast("long"),
          Seq(col("n_chars").desc, col("doc_id")), "r_size")
        .select(col("doc_id"), col("r_size"))
      rLm.join(rSize, Seq("doc_id")).join(rHost, Seq("doc_id"))
        .select(col("doc_id"), col("r_lm"), col("r_host"), col("r_size"),
          (expr("1000000 div (60 + r_lm)") +
            expr("1000000 div (60 + r_host)") +
            expr("1000000 div (60 + r_size)")).as("rrf_ppm"))
        .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(50)
    },
      raw"""WITH $bigramScoreSql,
         $hostRankSql,
         rl AS (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY lm_lp DESC, doc_id)
               AS BIGINT) AS r_lm
           FROM sc),
         hp AS (
           SELECT node AS host,
             CAST(row_number() OVER (ORDER BY r DESC, node)
               AS BIGINT) AS r_host
           FROM r3),
         rh AS (
           SELECT doc_id, r_host
           FROM (SELECT doc_id,
                   'site' || (doc_id % 7) || '.example.org' AS host
                 FROM documents) dh
           JOIN hp USING (host)),
         rs AS (
           SELECT doc_id,
             CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
               AS BIGINT) AS r_size
           FROM documents)
         SELECT rl.doc_id, r_lm, r_host, r_size,
           1000000 // (60 + r_lm) + 1000000 // (60 + r_host)
             + 1000000 // (60 + r_size) AS rrf_ppm
         FROM rl
         JOIN rs ON rs.doc_id = rl.doc_id
         JOIN rh ON rh.doc_id = rl.doc_id
         ORDER BY rrf_ppm DESC, rl.doc_id LIMIT 50"""),

    // Z-order data layout (the OPTIMIZE ZORDER shape): assign every
    // event a Morton key interleaving the bits of its two query
    // dimensions (user, value bucket), radix-split the key space into
    // files, and report per-file min/max of BOTH dims — the column
    // stats a scan prunes on. The point at 100 TB: a z-ordered write
    // makes range predicates on EITHER dimension skip most files
    // (linear-order sorting serves only its leading column). The bit
    // spread uses the classic fixed-shift mask cascade, so both
    // engines compute it in pure integer ops — no per-bit loop, no
    // UDF; the whole key derivation is map-side, and the only shuffle
    // is the per-file stats aggregation (file-count-sized).
    Query("t82_zorder_layout", (s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"),
          expr("user_id & 65535").as("ux"),
          expr("CAST(floor(value) AS BIGINT) & 65535").as("vx"))
        .withColumn("zkey",
          expr(s"${zSpread("ux")} | (${zSpread("vx")} << 1)"))
        .withColumn("file_id", expr("zkey div 16384")) // 2^14-key files
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min(col("ux")).as("min_user"), max(col("ux")).as("max_user"),
          min(col("vx")).as("min_val"), max(col("vx")).as("max_val")),
      s"""WITH t AS (
           SELECT event_id, user_id & 65535 AS ux,
             CAST(floor(value) AS BIGINT) & 65535 AS vx
           FROM events),
         z AS (
           SELECT event_id, ux, vx,
             ${zSpread("ux")} | (${zSpread("vx")} << 1) AS zkey
           FROM t)
         SELECT zkey // 16384 AS file_id, count(*) AS n_rows,
           min(ux) AS min_user, max(ux) AS max_user,
           min(vx) AS min_val, max(vx) AS max_val
         FROM z GROUP BY zkey // 16384"""),

    // Corpus health dashboard: one pass over the corpus → one row of
    // doc/unique/token/quality/language totals (the monitoring
    // endpoint a pipeline run reports). All inputs come off map-side
    // kernels; the agg is a single global reduce.
    Query("d7_corpus_stats", (s, dir) =>
      T(s, dir, "documents")
        .select(col("lang"), md5(col("text")).as("__h"),
          size(split(col("text"), "\\s+")).cast("long").as("__t"),
          graft.functions.SketchExpressions.textStats(col("text"))
            .as("__st"))
        .select(col("lang"), col("__h"), col("__t"),
          TextOps.qualityScoreFrom(col("__st")).as("__q"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__h")).as("n_unique"),
          sum(col("__t")).as("n_tokens"),
          round(avg(col("__q")), 6).as("avg_quality"),
          countDistinct(col("lang")).as("n_langs")),
      """SELECT count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_unique,
         CAST(sum(CAST(len(string_split_regex(text, '\s+')) AS BIGINT))
              AS BIGINT) AS n_tokens,
         round(avg(round(
           least(CAST(len(string_split_regex(text,'\s+')) AS DOUBLE)
                 / 100.0, 1.0) * 0.4
           + CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  AS DOUBLE)
             / greatest(CAST(len(text) AS DOUBLE), 1.0) * 0.3
           + CAST(len(list_filter(string_split_regex(lower(text),'\s+'),
               x -> list_contains(
                 ['the','and','of','to','in','is','that','it'], x)))
               AS DOUBLE)
             / greatest(CAST(len(string_split_regex(text,'\s+'))
                        AS DOUBLE), 1.0) * 0.2
           + least((CAST(len(text) AS DOUBLE)
                    - len(regexp_replace(text, '[.,!?;:]', '', 'g')))
                   / greatest(CAST(len(text) AS DOUBLE), 1.0) * 10.0,
                   1.0) * 0.1, 6)), 6) AS avg_quality,
         count(DISTINCT lang) AS n_langs
         FROM documents"""),

    // Approximate aggregates, SELF-GATED (the ε bounds folded into
    // the query itself — no rows-only category left): every estimate
    // column emits the EXACT answer when the estimate sits inside its
    // ε band, so the DuckDB oracle — which cannot reproduce
    // engine-specific sketch internals — hash-gates the whole row;
    // when an estimate drifts OUT of band the raw estimate is emitted
    // instead, the hash compare fails loudly, and the drifting value
    // sits inspectable in the dump. Bands (same as a1b, judge-gated
    // since r12): HLL datasketches ≈1.6% rsd → 5%; HLL++ ≈5% rsd →
    // 15%; approx-percentile accuracy 1000 → rank error ≤1/1000 ≈ 1%
    // of the near-uniform value spread. The 100 TB shapes stand: HLL
    // sketches are MERGEABLE (partial per partition/day, merged
    // across the corpus without re-scanning), approx percentiles
    // bound memory where exact percentile would collect per-group
    // arrays — the exact aggregates alongside are the verification
    // harness, not the production plan.
    Query("a1_approx_sketches", (s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(
          hll_sketch_estimate(hll_sketch_agg(col("user_id")))
            .as("__hll"),
          approx_count_distinct(col("user_id")).as("__hpp"),
          percentile_approx(col("value"), lit(0.5), lit(1000))
            .as("__p50a"),
          percentile(col("value"), lit(0.5)).as("__p50"),
          countDistinct(col("user_id")).as("__u"),
          (max(col("value")) - min(col("value"))).as("__spread"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          when(abs(col("__hll") - col("__u")) / col("__u") < 0.05,
            col("__u")).otherwise(col("__hll")).as("approx_users"),
          when(abs(col("__hpp") - col("__u")) / col("__u") < 0.15,
            col("__u")).otherwise(col("__hpp"))
            .as("approx_users_hllpp"),
          when(abs(col("__p50a") - col("__p50")) <=
              col("__spread") * 0.01,
            col("__p50")).otherwise(col("__p50a")).as("p50_approx")),
      // a1's snapped-value fold: in-band estimates emit the exact
      // answer, so the oracle IS the exact answer (an out-of-band
      // estimate emits raw and hash-fails — the intended red)
      """SELECT event_type, count(*) AS n,
           count(DISTINCT user_id) AS approx_users,
           count(DISTINCT user_id) AS approx_users_hllpp,
           median(value) AS p50_approx
         FROM events GROUP BY event_type"""),

    // a1's boolean twin (kept distinct from a1's snapped-value
    // surface): the same ε bounds evaluated INSIDE the query against
    // exact aggregates over the same rows, emitting only the booleans
    // plus the exact count — the at-a-glance health row a dashboard
    // reads. PropertySpec holds the same bounds in-suite.
    Query("a1b_sketch_bounds", (s, dir) =>
      T(s, dir, "events").groupBy("event_type")
        .agg(
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("__hll"),
          approx_count_distinct(col("user_id")).as("__hpp"),
          percentile_approx(col("value"), lit(0.5), lit(1000))
            .as("__p50a"),
          percentile(col("value"), lit(0.5)).as("__p50"),
          countDistinct(col("user_id")).as("__u"),
          (max(col("value")) - min(col("value"))).as("__spread"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          (abs(col("__hll") - col("__u")) / col("__u") < 0.05)
            .as("hll_ok"),
          (abs(col("__hpp") - col("__u")) / col("__u") < 0.15)
            .as("hllpp_ok"),
          (abs(col("__p50a") - col("__p50")) <= col("__spread") * 0.01)
            .as("p50_ok")),
      // the flags are computed Spark-side against exact aggregates over
      // the same rows; the oracle contributes the exact group counts and
      // the expectation that every bound HOLDS — a hash mismatch means an
      // estimator left its ε envelope
      """SELECT event_type, count(*) AS n,
           true AS hll_ok, true AS hllpp_ok, true AS p50_ok
         FROM events GROUP BY event_type"""),

    // KMV (k-minimum-values) distinct-count sketch via the custom
    // TypedImperativeAggregate: per group, the 8 smallest DISTINCT
    // md5(user_id) hashes — O(k) state, mergeable partials — plus the
    // (k-1)/F(h_k) estimator derived declaratively from the sketch.
    // Unlike HLL (a1, rows-only) the sketch output is deterministic
    // given the input set, so this custom AGGREGATE is exact-gated
    // against DuckDB. 13 hex chars = 52 bits: exact in a double.
    Query("a2_kmv_distinct", (s, dir) => {
      val bk = graft.functions.AggregateExpressions
        .bottomKStrings(md5(col("user_id").cast("string")), 8)
      T(s, dir, "events").groupBy("event_type")
        .agg(bk.as("__bk"))
        .select(col("event_type"),
          concat_ws(",", col("__bk")).as("bottom_hashes"),
          round(when(size(col("__bk")) < 8,
            size(col("__bk")).cast("double"))
            .otherwise(lit(7.0) * lit(4503599627370496.0) /
              conv(substring(element_at(col("__bk"), 8), 1, 13), 16, 10)
                .cast("double")), 6).as("est_distinct"))
    },
      """WITH u AS (
           SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS h
           FROM events),
         bk AS (
           SELECT event_type, list_sort(list(h))[1:8] AS bh
           FROM u GROUP BY event_type)
         SELECT event_type, array_to_string(bh, ',') AS bottom_hashes,
           round(CASE WHEN len(bh) < 8 THEN CAST(len(bh) AS DOUBLE)
             ELSE CAST(7 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) /
               CAST(('0x' || substr(bh[8], 1, 13)) AS UBIGINT)::DOUBLE
             END, 6) AS est_distinct
         FROM bk"""),

    // Heavy hitters via the Misra–Gries TypedImperativeAggregate:
    // the sketch ships ≤64 counters per partition (vs a full
    // vocabulary shuffle), GUARANTEES every term with freq > n/64 is
    // among its candidates, and one exact counting pass over just the
    // broadcast candidate set makes the output exact — so the final
    // result is deterministic (= the terms with cnt·64 > n) and
    // oracle-gated even though the sketch itself is order-sensitive.
    // The 100 TB shape for "top terms": candidates prune the exact agg
    // to a broadcast semi-join, never a vocabulary-wide shuffle.
    Query("t36_heavy_hitters", (s, dir) => {
      val toks = T(s, dir, "documents")
        .select(explode(TextOps.tokensLower(col("text"))).as("term"))
        .where(length(col("term")) > 0)
      val cand = toks.agg(graft.functions.AggregateExpressions
          .misraGries(col("term"), 64).as("__c"))
        .select(explode(col("__c")).as("term"))
      val tot = toks.agg(count(lit(1)).as("__n"))
      toks.join(broadcast(cand), Seq("term"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .where(col("cnt") * 64 > col("__n"))
        .select(col("term"), col("cnt"))
    },
      """WITH t AS (
           SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
           FROM documents),
         tk AS (SELECT term FROM t WHERE len(term) > 0),
         n AS (SELECT count(*) AS __n FROM tk)
         SELECT term, count(*) AS cnt
         FROM tk, n
         GROUP BY term, __n
         HAVING count(*) * 64 > __n"""),

    // Count-Min Sketch point queries (Cormode & Muthukrishnan 2005) —
    // the streaming-counts member of the sketch family (HLL=a1,
    // KMV=a2/t52, Misra–Gries=t36): d=4 rows × w=1024 counters, each
    // row bucketing every term by an independent salted-md5 hash;
    // est(term) = min over rows of its counter. CMS guarantees
    // est ≥ exact always and est ≤ exact + εN w.h.p.; both sides are
    // DIRECTLY verifiable here because the sketch build is pure
    // relational arithmetic on a deterministic hash — the DuckDB twin
    // reconstructs the identical 4×1024 counter table, so every
    // estimate (not just a bound) hash-gates bit-exact. Probes are
    // the top-20 exact-count terms (d3's deterministic order).
    //
    // Scale shape: the corpus-proportional token stream collapses
    // map-side to the (term, cnt) histogram ONCE (vocab-bounded);
    // the 4-row explode, counter agg (≤4×1024 rows) and probe joins
    // all run on vocab-or-smaller tables. No hint anywhere: both
    // join sides are bounded (probes=20×4, counters≤4096) and
    // statistics pick the broadcast at any SF.
    Query("t123_cms_counts", (s, dir) => {
      val w = 1024
      val tf = T(s, dir, "documents")
        .select(explode(TextOps.tokensLower(col("text"))).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val bucketed = tf
        .select(col("term"), col("cnt"),
          explode(array((0 until 4).map(lit): _*)).as("r"))
        .withColumn("bucket",
          conv(substring(md5(concat(col("r").cast("string"), lit("|"),
            col("term"))), 1, 9), 16, 10).cast("long") % w)
      val counters = bucketed.groupBy("r", "bucket")
        .agg(sum("cnt").as("c"))
      val probes = tf.orderBy(col("cnt").desc, col("term")).limit(20)
        .withColumnRenamed("cnt", "exact_cnt")
        .select(col("term"), col("exact_cnt"),
          explode(array((0 until 4).map(lit): _*)).as("r"))
        .withColumn("bucket",
          conv(substring(md5(concat(col("r").cast("string"), lit("|"),
            col("term"))), 1, 9), 16, 10).cast("long") % w)
      probes.join(counters, Seq("r", "bucket"))
        .groupBy("term")
        .agg(min("exact_cnt").as("exact_cnt"), min("c").as("est_cnt"))
        .select(col("term"), col("exact_cnt"), col("est_cnt"),
          (col("est_cnt") - col("exact_cnt")).as("overcount"))
    },
      // The identical 4×1024 CMS counter table rebuilt relationally —
      // salted-md5 bucket hash matches Spark's conv(substr(md5,1,9))
      // bit for bit, so every point estimate hash-gates exactly.
      raw"""WITH tf AS (
           SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+'))
               AS term FROM documents)
           WHERE len(term) > 0 GROUP BY 1),
         b AS (
           SELECT term, cnt, r,
             CAST(CAST(('0x' || substr(md5(r::VARCHAR || '|' || term),
               1, 9)) AS UBIGINT) % 1024 AS BIGINT) AS bucket
           FROM tf, (SELECT unnest([0, 1, 2, 3]) AS r)),
         counters AS (
           SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS c
           FROM b GROUP BY 1, 2),
         probes AS (
           SELECT term, cnt AS exact_cnt FROM tf
           ORDER BY cnt DESC, term LIMIT 20),
         pb AS (
           SELECT p.term, p.exact_cnt, r,
             CAST(CAST(('0x' || substr(md5(r::VARCHAR || '|' || p.term),
               1, 9)) AS UBIGINT) % 1024 AS BIGINT) AS bucket
           FROM probes p, (SELECT unnest([0, 1, 2, 3]) AS r))
         SELECT pb.term,
           CAST(min(pb.exact_cnt) AS BIGINT) AS exact_cnt,
           CAST(min(counters.c) AS BIGINT) AS est_cnt,
           CAST(min(counters.c) - min(pb.exact_cnt) AS BIGINT)
             AS overcount
         FROM pb JOIN counters
           ON counters.r = pb.r AND counters.bucket = pb.bucket
         GROUP BY 1"""),

    // JSONL corpus round-trip with corrupt-line quarantine (the
    // `ingest/Jsonl` source's contract, oracle-gated): documents
    // serialize through the PRODUCTION serializer (Jsonl.toJsonLines
    // — the exact to_json the .jsonl.gz sink writes), every 13th
    // line is truncated mid-object (the killed-writer shard tail
    // every real corpus contains), and the production parser
    // (Jsonl.parseLines — PERMISSIVE + corrupt-record column) reads
    // the stream back. Clean lines must round-trip every field
    // bit-exactly (unicode text included); corrupt lines must emit
    // one all-null row with the corrupt flag — a row per input line,
    // never a silent drop (the accounting identity a corruption-rate
    // alert needs). Entirely map-side (serialize + mangle + parse in
    // one projection): no shuffle, trivially 100 TB.
    Query("t118_jsonl_roundtrip", (s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      val cols = Seq("doc_id", "text", "lang", "n_chars")
      val lines = T(s, dir, "documents")
        .select(col("doc_id").as("__id"),
          to_json(struct(cols.map(col): _*)).as("line"))
      // not-JSON-from-byte-0 so the whole record quarantines — a
      // truncation after a parseable prefix would exercise Spark's
      // partial-result PERMISSIVE semantics (parsed prefix fields
      // kept, corrupt flag set), which is engine-specific and has no
      // cross-engine oracle; the spec covers that variant instead
      val mangled = lines.select(
        when(pmod(col("__id"), lit(13)) === 0,
          concat(lit("corrupt!"), substring(col("line"), 1, 9)))
          .otherwise(col("line")).as("line"))
      graft.ingest.Jsonl.parseLines(mangled, "line", schema)
        .select(col("doc_id"), col("text"), col("lang"),
          col("n_chars"),
          col(graft.ingest.Jsonl.CorruptCol).isNotNull.as("corrupt"))
    },
      // t118: the round-trip is the identity on clean lines; corrupt
      // lines (doc_id % 13 = 0, mangled unparseable-from-byte-0) emit
      // one all-null row with the flag — the oracle needs no JSON at
      // all, which is the point of gating the PARSED surface
      """SELECT
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE doc_id END
             AS doc_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE text END AS text,
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END
             AS n_chars,
           doc_id % 13 = 0 AS corrupt
         FROM documents"""),

    // W4 as a true RANGE-interval frame (the one frame type the rest
    // of the window family doesn't exercise): per-user trailing-hour
    // sum where the frame is defined by the VALUE of the ordering
    // column (epoch seconds), not row counts — irregular event
    // spacing keeps row frames wrong here. Partitioned by user:
    // shuffles once on the window key, no global window.
    Query("q42_range_frame", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsec")
        .rangeBetween(-3599, 0)
      T(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("tsec"),
          col("value"))
        .select(col("user_id"), col("tsec"),
          round(col("value"), 6).as("v"),
          round(sum("value").over(w), 6).as("trail_1h"))
    },
      """SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
           round(value, 6) AS v,
           round(sum(value) OVER (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW), 6)
             AS trail_1h
         FROM events"""),

    // X1 — the path-dependent depth recurrence (no SQL equivalent →
    // rows-only check here; semantics golden-tested in UdgDepthSpec).
    // A smoothed hourly series drives two "sensor installs"; state is
    // per-sensor via repartition+sortWithinPartitions+mapPartitions.
    Query("x1_depth_recurrence", (s, dir) => {
      val udg = x1UdgSeries(s, dir)
      Depths.tdrDepth(udg, "ts", "udg", Seq(
        Depths.Install("tdr1",
          java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), -0.5),
        Depths.Install("tdr2",
          java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), -1.2)))
        .select(col("sensor"), col("ts"), round(col("depth"), 6).as("depth"))
    },
      // X1 as a recursive CTE: the per-sensor melt-out ratchet recurrence
      // (fs_pp.py:636-641 semantics) stepped row-by-row — the hard gate for
      // the engine's signature path-dependent operator.
      """WITH RECURSIVE
         hourly AS (
           SELECT date_trunc('hour', ts) AS ts,
             (avg(value) - 30.0) / 10.0 AS udg
           FROM events WHERE user_id = 0 GROUP BY 1),
         inst(sensor, at, d0) AS (
           VALUES ('tdr1', TIMESTAMP '2024-01-05 00:00:00',
                   CAST(-0.5 AS DOUBLE)),
                  ('tdr2', TIMESTAMP '2024-01-15 00:00:00',
                   CAST(-1.2 AS DOUBLE))),
         ser AS (
           SELECT sensor, h.ts, udg, d0,
             row_number() OVER (PARTITION BY sensor ORDER BY h.ts) AS rn
           FROM hourly h JOIN inst ON h.ts >= at
           WHERE udg IS NOT NULL),
         rec AS (
           SELECT sensor, ts, rn,
             CASE WHEN d0 >= 0 THEN 0.0 ELSE d0 END AS depth,
             CASE WHEN d0 >= 0 THEN -udg ELSE d0 - udg END AS off
           FROM ser WHERE rn = 1
           UNION ALL
           SELECT s.sensor, s.ts, s.rn,
             CASE WHEN s.udg + r.off >= 0
                  THEN 0.0 ELSE s.udg + r.off END,
             CASE WHEN s.udg + r.off >= 0 THEN -s.udg ELSE r.off END
           FROM ser s JOIN rec r
             ON s.sensor = r.sensor AND s.rn = r.rn + 1)
         SELECT sensor, ts, round(depth, 6) AS depth FROM rec"""),
  )
}
