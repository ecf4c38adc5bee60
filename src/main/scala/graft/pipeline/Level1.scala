package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

import graft.ingest.Toa5
import graft.ops.Joins
import graft.plans.{OrderedKernel, RowKernel}

/** Level-0 → Level-1: ingest raw TOA5 bales, union, clean, dedup.
  *
  * Reference lifecycle §3.1 (fs_pp.py:68-106): per-dataset bale loads →
  * concat → drop all-null columns → full-row dedup → keep-FIRST-per-
  * timestamp dedup. Keep-first is ingest order: file sequence then the
  * logger's RECORD counter — threaded explicitly because Spark row order
  * is undefined (SURVEY §2.4 D2).
  *
  * Plan shape: typed bale scan → union → one exchange into a single
  * partition sorted by (timestamp, file sequence, RECORD) → one ordered
  * kernel (`OrderedKernel`) that counts every column's non-null cells
  * over all ingested rows (P1) and emits the first row per timestamp
  * (D2). The counts are taken before the dedup, as the reference drops
  * all-NaN columns before it dedups. The reference's full-row dedup
  * needs no step of its own: exact duplicate rows share a timestamp, so
  * keep-first already collapses them to one of several identical rows.
  */
object Level1 {

  /** One level-0 source: a directory of numbered bale files; `serviced`
    * appends the `serviced/` glob discovery (S3 — reference applies it
    * to the LATEST subdataset only, fs_pp.py:83-90; the caller sets the
    * flag on the last source). */
  case class Source(dir: String, balesStart: Int, balesStop: Int,
                    template: String = "MainTable%d.dat",
                    nrows: Option[Int] = None,
                    serviced: Boolean = false)

  object Source {
    /** `onefile` level-0 variant: the dataset is a single named file,
      * not a bale range (reference loads either bales or one file per
      * dataset — fs_pp.py:109-151). Filenames must not contain `%`
      * (they'd be read as a format spec). */
    def onefile(dir: String, file: String, nrows: Option[Int] = None,
                serviced: Boolean = false): Source =
      Source(dir, 0, 0, template = file, nrows = nrows,
        serviced = serviced)
  }

  /** Rows the Level-1 pass ingested (`in`) and emitted after its
    * keep-first dedup (`out`). */
  final case class Rows(in: Long, out: Long)

  /** Runs the Level-1 pass once into the cache, then hands `f` the
    * Level-1 product, read from that cache in time order, and the pass's
    * row counts; the cache is released when `f` returns or throws, even
    * when the session is the caller's. The bales are read once.
    *
    * The counts are the reference's printed row counts around its dedup
    * (fs_pp.py:98-104), taken as `Observation` metrics of the one job
    * that fills the cache rather than as extra driver-side counts. */
  def withProduct[A](spark: SparkSession, sources: Seq[Source],
                     tsCol: String = "TIMESTAMP")
                    (f: (DataFrame, Rows) => A): A = {
    val obsIn = Observation("l1_rows_in")
    val obsOut = Observation("l1_rows_out")
    val p = keepFirst(ingest(spark, sources, tsCol)
      .observe(obsIn, count(lit(1)).as("rows_in")), tsCol)
    val frame = p.frame.observe(obsOut, count(lit(1)).as("rows_out")).persist()
    try {
      frame.count()
      f(frame.drop(Toa5.FileOrderCol +: p.allNull: _*),
        Rows(obsIn.get("rows_in").asInstanceOf[Long],
          obsOut.get("rows_out").asInstanceOf[Long]))
    } finally frame.unpersist()
  }

  /** Level-1 as one ordered pass, before its all-null column drop:
    * `frame` holds the first row per timestamp with every ingested
    * column plus `Toa5.FileOrderCol`. Once `frame` has run to the end,
    * `allNull` names the columns that no ingested row fills. */
  private final class Pass(val frame: DataFrame, cols: Seq[String],
                           probe: NonNullCounts) {
    def allNull: Seq[String] = {
      val counts = probe.value
      require(counts != null, "Level1: the ingest pass has not run to " +
        "the end — run `frame` first (an ingest with no rows never does)")
      cols.zip(counts).collect { case (c, 0L) => c }
    }
  }

  private def ingest(spark: SparkSession, sources: Seq[Source],
                     tsCol: String): DataFrame = {
    // global file order across sources = source order then bale order
    var offset = 0
    val parts = sources.map { src =>
      val bales = Toa5.balePaths(src.dir, src.balesStart, src.balesStop,
        src.template)
      val paths = bales ++
        (if (src.serviced) Toa5.servicedPath(spark, src.dir) else None)
      val df = Toa5.read(spark, paths, tsCol, src.nrows)
        .withColumn(Toa5.FileOrderCol, col(Toa5.FileOrderCol) + offset)
      offset += paths.size
      df
    }
    Joins.unionAll(parts)
  }

  private def keepFirst(ingested: DataFrame, tsCol: String): Pass = {
    val cols = ingested.columns.filter(_ != Toa5.FileOrderCol).toSeq
    val probe = new NonNullCounts
    ingested.sparkSession.sparkContext.register(probe, "l1_non_null")
    // by position in the ingested row: a column that only a later
    // source has is unioned in AFTER the file order column
    val frame = OrderedKernel(ingested,
      new KeepFirstKernel(ingested.columns.indexOf(tsCol),
        cols.map(c => ingested.columns.indexOf(c)).toArray, probe),
      keys = Nil, orderBy = Seq(tsCol, Toa5.FileOrderCol) ++
        (if (cols.contains("RECORD")) Seq("RECORD") else Nil))
    new Pass(frame, cols, probe)
  }

  /** P1 and D2 over rows sorted by (ts, file order, RECORD), none with
    * a null ts: counts the non-null cells at each of the positions
    * `counted` over every row, emits the first row per timestamp, and
    * adds the counts, in `counted`'s order, to `probe` once the rows
    * run out. */
  private final class KeepFirstKernel(tsIdx: Int, counted: Array[Int],
                                      probe: NonNullCounts)
      extends RowKernel {
    def run(rows: Iterator[InternalRow]): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        private val counts = new Array[Long](counted.length)
        private var last = 0L
        private var started = false
        private var pending: InternalRow = null
        private var published = false

        def hasNext: Boolean = {
          while (pending == null && rows.hasNext) {
            val r = rows.next()
            var i = 0
            while (i < counts.length) {
              if (!r.isNullAt(counted(i))) counts(i) += 1
              i += 1
            }
            val t = r.getLong(tsIdx)
            if (!started || t != last) {
              started = true; last = t; pending = r
            }
          }
          if (pending == null && !published) {
            probe.add(counts); published = true
          }
          pending != null
        }

        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          r
        }
      }
  }

  /** Per-column non-null counts; null until a pass has run to the end. */
  private final class NonNullCounts
      extends AccumulatorV2[Array[Long], Array[Long]] {
    private var counts: Array[Long] = null
    def isZero: Boolean = counts == null
    def copy(): NonNullCounts = {
      val c = new NonNullCounts
      if (counts != null) c.counts = counts.clone()
      c
    }
    def reset(): Unit = counts = null
    def add(v: Array[Long]): Unit =
      if (counts == null) counts = v.clone()
      else v.indices.foreach(i => counts(i) += v(i))
    def merge(other: AccumulatorV2[Array[Long], Array[Long]]): Unit =
      Option(other.value).foreach(add)
    def value: Array[Long] = counts
  }
}
