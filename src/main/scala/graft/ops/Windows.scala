package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Time-window operators W1–W6: rolling median/mean over time-range frames,
  * resample-to-grid, limited forward-fill, linear interpolation, lag-diff
  * (the modal sampling interval, A2, is `Udg.modalIntervalSec`).
  *
  * Reference semantics: pandas `rolling('2D').median()` (fs_pp.py:562),
  * `rolling('3D', center=True).median()` (fs_process_l2.py:71),
  * `resample('Nmin').ffill(limit=3)` (fs_pp.py:554-559),
  * `interpolate()` (plot_L2.py:121), index lag-diff (fs_pp.py:557).
  *
  * Scale notes: every operator here partitions by an explicit key set
  * (`partCols`) — per-station / per-sensor at production scale — so window
  * state is bounded per key and the only shuffle is the hash partition on
  * the keys. Ordering is on `unix_micros(ts)` (64-bit), giving exact
  * microsecond frame bounds; pandas' offset windows are closed on the right
  * and open on the left ((t-w, t]), which we reproduce by shrinking the
  * preceding bound by 1 µs. A single-key (whole-table) window degenerates
  * to one partition — callers at scale must supply keys; the reference's
  * single-station pipelines pass the station id.
  */
object Windows {

  private val MicrosPerSec = 1000000L

  /** Window ordered by event-time micros, covering
    * [t - beforeSec, t + afterSec] with configurable endpoint closedness. */
  def timeRange(tsCol: Column, partCols: Seq[Column],
                beforeSec: Double, afterSec: Double,
                closedLeft: Boolean = false,
                closedRight: Boolean = true): WindowSpec = {
    val lo = -(beforeSec * MicrosPerSec).toLong + (if (closedLeft) 0L else 1L)
    val hi = (afterSec * MicrosPerSec).toLong - (if (closedRight) 0L else 1L)
    Window.partitionBy(partCols: _*).orderBy(unix_micros(tsCol))
      .rangeBetween(lo, hi)
  }

  /** W1 — trailing time-window rolling aggregate ((t-w, t], pandas
    * `rolling('2D')` closed-right default). */
  def rollingTrailing(agg: Column => Column, value: Column, tsCol: Column,
                      partCols: Seq[Column], widthSec: Double,
                      minPeriods: Int = 1): Column = {
    val w = timeRange(tsCol, partCols, widthSec, 0.0)
    withMinPeriods(agg, value, w, minPeriods)
  }

  /** W2 — centered time-window rolling aggregate. pandas
    * `rolling(w, center=True)` uses ((t - w/2, t + w/2]. */
  def rollingCentered(agg: Column => Column, value: Column, tsCol: Column,
                      partCols: Seq[Column], widthSec: Double,
                      minPeriods: Int = 1): Column = {
    val w = timeRange(tsCol, partCols, widthSec / 2, widthSec / 2)
    withMinPeriods(agg, value, w, minPeriods)
  }

  private def withMinPeriods(agg: Column => Column, value: Column,
                             w: WindowSpec, minPeriods: Int): Column =
    if (minPeriods <= 1) agg(value).over(w)
    else when(count(value).over(w) >= minPeriods, agg(value).over(w))

  /** Exact interpolating median usable as a window aggregate. Spark's
    * `median` is a RuntimeReplaceable aggregate that rejects window frames;
    * `percentile(x, 0.5)` is the same computation (linear interpolation,
    * matching pandas `median()` / DuckDB `median`) and frame-capable. */
  def med(c: Column): Column = percentile(c, lit(0.5))

  /** W6 — difference from previous row's value within each key,
    * ordered by `orderCols`. */
  def lagDiff(value: Column, partCols: Seq[Column],
              orderCols: Seq[Column]): Column = {
    val w = Window.partitionBy(partCols: _*).orderBy(orderCols: _*)
    value - lag(value, 1).over(w)
  }

  /** W3 (grid) — regular timestamp grid per key spanning each key's
    * [min(ts), max(ts)], `intervalSec` apart, left-joined with the input at
    * exact instants (pandas `asfreq`: off-grid readings do NOT contribute).
    * ORIGIN caveat vs the cited reference: pandas `resample('Nmin')`
    * aligns bins to a day-start origin, while this grid anchors at
    * each key's OWN min(ts) — identical whenever the data is
    * self-aligned to its cadence (TOA5 loggers emit on the grid, so
    * the reference pipeline and this one agree on its data), but a
    * key whose first reading is off-origin gets a shifted grid; an
    * origin-aligned variant would anchor at date_trunc('day', min).
    * The grid is generated distributed (sequence+explode per key, one row
    * per key from a partial-aggregable min/max); the join shuffles both
    * sides on (key, ts) once.
    */
  def resampleGrid(df: DataFrame, tsCol: String, partCols: Seq[String],
                   intervalSec: Long): DataFrame = {
    val grid = df.groupBy(partCols.map(col): _*)
      .agg(min(col(tsCol)).as("__t0"), max(col(tsCol)).as("__t1"))
      .select((partCols.map(col) :+
        explode(sequence(col("__t0"), col("__t1"),
          expr(s"INTERVAL $intervalSec SECONDS"))).as(tsCol)): _*)
    grid.join(df, partCols :+ tsCol, "left")
  }

  /** W3 (fill) — forward-fill `valueCol` but only across at most `limit`
    * consecutive nulls (pandas `ffill(limit=n)`): the (limit+1)-th null
    * after a valid observation stays null. Pure window composition:
    * the running non-null count identifies each fill run; a row_number
    * inside the run is the gap distance. */
  def ffillLimited(df: DataFrame, valueCol: String, tsCol: String,
                   partCols: Seq[String], limit: Int,
                   tiebreakCols: Seq[String] = Nil): DataFrame = {
    val part = partCols.map(col)
    val ord = (tsCol +: tiebreakCols).map(col)
    val wOrd = Window.partitionBy(part: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withRun = df
      .withColumn("__run", count(col(valueCol)).over(wOrd))
      .withColumn("__filled", last(col(valueCol), ignoreNulls = true).over(wOrd))
    val wRun = Window.partitionBy((part :+ col("__run")): _*)
      .orderBy(ord: _*)
    withRun
      .withColumn("__gap", row_number().over(wRun) - 1)
      .withColumn(valueCol,
        when(col(valueCol).isNotNull, col(valueCol))
          .when(col("__gap") <= limit, col("__filled")))
      .drop("__run", "__filled", "__gap")
  }

  /** W5 — linear interpolation over time (pandas `interpolate()` default:
    * interior nulls linearly interpolated on the time axis? no — pandas'
    * default 'linear' method is positional; the reference applies it to
    * regularly-gridded series where positional == temporal. We interpolate
    * on event-time, which matches on regular grids and is the physically
    * correct generalisation. Leading nulls stay null; trailing nulls carry
    * the last valid value (pandas limit_direction='forward' behaviour). */
  def interpolateLinear(df: DataFrame, valueCol: String, tsCol: String,
                        partCols: Seq[String],
                        tiebreakCols: Seq[String] = Nil): DataFrame = {
    val part = partCols.map(col)
    val ord = unix_micros(col(tsCol))
    val ordAll = ord +: tiebreakCols.map(col)
    val wPrev = Window.partitionBy(part: _*).orderBy(ordAll: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(part: _*).orderBy(ordAll: _*)
      .rowsBetween(0, Window.unboundedFollowing)
    val v = col(valueCol)
    val pv = last(v, ignoreNulls = true).over(wPrev)
    val pt = last(when(v.isNotNull, ord), ignoreNulls = true).over(wPrev)
    val nv = first(v, ignoreNulls = true).over(wNext)
    val nt = first(when(v.isNotNull, ord), ignoreNulls = true).over(wNext)
    // nt = pt happens when a null row SHARES its timestamp with its
    // bracketing non-null rows (duplicate timestamps are in-contract
    // via tiebreakCols): the time fraction is 0/0 = NaN, which would
    // be written as a poisoned non-null value. The previous valid
    // value is the defensible answer at zero elapsed time.
    val interp = when(nt === pt, pv)
      .otherwise(pv + (nv - pv) * (ord - pt) / (nt - pt))
    df.withColumn(valueCol,
      when(v.isNotNull, v)
        .when(pv.isNotNull && nv.isNotNull, interp)
        .when(pv.isNotNull, pv))
  }

  /** Exact global (or per-partition) rank WITHOUT a one-reducer sort —
    * the two-level distributed scan shared by t68's prefix sums, t75's
    * perplexity terciles and t78's rank fusion. `bucket` must be an
    * integer expression MONOTONE ASCENDING in the caller's order (for
    * a descending score s, pass e.g. -floor(s*10): floor/negate are
    * exact, so bucket(a) <= bucket(b) whenever a ranks before b, and
    * ties land in the same bucket where `order` decides). Level 1:
    * per-bucket counts get exclusive offsets via a window over the
    * BUCKET table (bucket-cardinality — tiny; nest the same step for
    * corpora where it is not). Level 2: rows rank inside their bucket
    * only (hash-partitioned window). rank = offset + in-bucket
    * row_number — identical to a global row_number over `order`
    * (spec-asserted), with every window hash-partitioned. */
  def twoLevelRank(df: DataFrame, partition: Seq[String], bucket: Column,
                   order: Seq[Column], out: String,
                   broadcastBuckets: Boolean = true): DataFrame = {
    require(!df.columns.contains("__tlb") && !df.columns.contains("__tloff"),
      "twoLevelRank: input already has a __tlb/__tloff column — it " +
        "would be clobbered and dropped (rename it)")
    // NULL buckets fail LOUDLY (twoLevelPrefixSum's guard, same
    // reasons): the level-2 equi-join would silently DROP null-keyed
    // rows while the level-1 cumsum (nulls-first) still counts them
    // into every real bucket's offset — missing rows AND ranks
    // starting at N_null+1, both violating the ≡-global-row_number
    // contract. Callers with nullable keys coalesce bucket AND order
    // to a sentinel (t103's pattern).
    val checkedBucket = when(bucket.isNull, raise_error(lit(
        "twoLevelRank: bucket expression evaluated to NULL — null " +
          "keys cannot join or order consistently across the two " +
          "levels; coalesce the bucket (and the order) to a sentinel " +
          "in the caller"))).otherwise(bucket)
    val part = partition.map(col)
    val withB = df.withColumn("__tlb", checkedBucket)
    val bTab = withB
      .groupBy((part :+ col("__tlb")): _*)
      .agg(count(lit(1)).as("__tlbn"))
      .withColumn("__tloff", coalesce(
        sum("__tlbn").over(Window.partitionBy(part: _*)
          .orderBy(col("__tlb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((part :+ col("__tlb") :+ col("__tloff")): _*)
    val wIn = Window.partitionBy((part :+ col("__tlb")): _*)
      .orderBy(order: _*)
    // broadcastBuckets: when the bucket expression has a FIXED value
    // range (score buckets, hash prefixes), bTab is bounded by
    // construction and the hint stops Spark planning a sort-merge
    // join of the whole corpus against the tiny offset table when the
    // input lineage has no size stats (observed on t94 r12). Callers
    // whose bucket COUNT grows with the corpus (doc-id blocks) must
    // pass false: there a stats-driven shuffle join is the correct
    // plan at scale, and a forced broadcast would be the bug.
    val bJoin = if (broadcastBuckets) broadcast(bTab) else bTab
    withB.join(bJoin, partition :+ "__tlb")
      .withColumn(out, col("__tloff") + row_number().over(wIn))
      .drop("__tlb", "__tloff")
  }

  /** Exact global (or per-partition) EXCLUSIVE running sum of `value`
    * WITHOUT a one-reducer sort — `twoLevelRank`'s shape with sums in
    * place of counts (t68 inlines the same two levels for its packing
    * offsets, keyed there by doc_id blocks). Same `bucket` contract:
    * an integer expression MONOTONE ASCENDING in the caller's order;
    * ties land in one bucket where `order` decides. Level 1 windows
    * over the bucket-cardinality table only; level 2 hash-partitions
    * by bucket. `out` = the sum of `value` over all rows STRICTLY
    * before the row in the global order (0 for the first row) —
    * the running-total shape budget cutoffs and packing offsets need.
    *
    * A NULL bucket fails LOUDLY at eval time rather than silently
    * corrupting: the level-2 equi-join would drop null-keyed rows
    * (violating the advertised ≡-one-reducer-window contract), and
    * even a null-safe join could not place them correctly — the
    * level-1 cumsum orders buckets nulls-FIRST while a typical
    * `x.desc` caller orders rows nulls-LAST, so no single null
    * placement is right for both. Callers with nullable keys must
    * coalesce the bucket AND the order to an explicit sentinel (t95
    * pins null quality to −1, after all real scores). */
  def twoLevelPrefixSum(df: DataFrame, partition: Seq[String],
                        bucket: Column, order: Seq[Column],
                        value: Column, out: String,
                        broadcastBuckets: Boolean = true): DataFrame = {
    require(!df.columns.contains("__tlb") && !df.columns.contains("__tloff")
        && !df.columns.contains("__tlv"),
      "twoLevelPrefixSum: input already has a __tlb/__tloff/__tlv " +
        "column — it would be clobbered and dropped (rename it)")
    val part = partition.map(col)
    val checkedBucket = when(bucket.isNull, raise_error(lit(
        "twoLevelPrefixSum: bucket expression evaluated to NULL — " +
          "null keys cannot join or order consistently across the " +
          "two levels; coalesce the bucket (and the order) to a " +
          "sentinel in the caller"))).otherwise(bucket)
    // the running sum is integer-exact by contract; a fractional
    // value column would silently truncate per ROW (0.7 → 0) through
    // the long cast and corrupt every budget cutoff downstream
    locally {
      import org.apache.spark.sql.types._
      val vt = df.select(value.as("__tlchk")).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(vt),
        s"twoLevelPrefixSum: value column is $vt — the exclusive " +
          "running sum is integer arithmetic end to end; scale " +
          "fractional weights to integer units (ppm/milli) first")
    }
    val withB = df.withColumn("__tlb", checkedBucket)
      .withColumn("__tlv", value.cast("long"))
    val bTab = withB
      .groupBy((part :+ col("__tlb")): _*)
      .agg(sum(col("__tlv")).as("__tlbs"))
      .withColumn("__tloff", coalesce(
        sum("__tlbs").over(Window.partitionBy(part: _*)
          .orderBy(col("__tlb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((part :+ col("__tlb") :+ col("__tloff")): _*)
    val wIn = Window.partitionBy((part :+ col("__tlb")): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // same bounded-bTab broadcast contract as twoLevelRank (see there)
    val bJoin = if (broadcastBuckets) broadcast(bTab) else bTab
    withB.join(bJoin, partition :+ "__tlb")
      .withColumn(out,
        col("__tloff") + coalesce(sum(col("__tlv")).over(wIn), lit(0L)))
      .drop("__tlb", "__tlv", "__tloff")
  }
}
