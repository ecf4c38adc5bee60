package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  * `product` collects the kernel's rows to the driver in that one query
  * and drops the all-null columns there, so nothing is cached and the
  * bales are read once.
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

  /** The Level-1 product on the driver: `schema` without the columns
    * no ingested row fills and without `Toa5.FileOrderCol`, `rows` in
    * time order, and the pass's row counts. */
  final case class Product(schema: StructType, rows: Array[InternalRow],
                           counts: Rows)

  /** Runs the Level-1 pass as one query, collecting its rows to the
    * driver once, then drops the all-null columns, which only the
    * finished pass names, and the file order column by a projection of
    * the collected rows. The bales are read once.
    *
    * The counts are the reference's printed row counts around its dedup
    * (fs_pp.py:98-104), taken as `Observation` metrics of that one query
    * rather than as extra driver-side counts. */
  def product(spark: SparkSession, sources: Seq[Source],
              tsCol: String = "TIMESTAMP"): Product = {
    val obsIn = Observation("l1_rows_in")
    val obsOut = Observation("l1_rows_out")
    val p = keepFirst(ingest(spark, sources, tsCol)
      .observe(obsIn, count(lit(1)).as("rows_in")), tsCol)
    val frame = p.frame.observe(obsOut, count(lit(1)).as("rows_out"))
    val collected = Collect.rows(frame)
    val dropped = (Toa5.FileOrderCol +: p.allNull).toSet
    val kept = frame.schema.fields.indices
      .filterNot(i => dropped(frame.schema(i).name))
    val schema = StructType(kept.map(frame.schema(_)))
    Product(schema,
      collected.map { r =>
        val row = ProjectingInternalRow(schema, kept)
        row.project(r)
        row
      },
      Rows(obsIn.get("rows_in").asInstanceOf[Long],
        obsOut.get("rows_out").asInstanceOf[Long]))
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
