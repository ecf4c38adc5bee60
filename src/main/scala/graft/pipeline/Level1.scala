package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Toa5
import graft.ops.{Cleaning, Joins}

/** Level-0 → Level-1: ingest raw TOA5 bales, union, clean, dedup.
  *
  * Reference lifecycle §3.1 (fs_pp.py:68-106): per-dataset bale loads →
  * concat → drop all-null columns → full-row dedup → keep-FIRST-per-
  * timestamp dedup. Keep-first is ingest order: file sequence then the
  * logger's RECORD counter — threaded explicitly because Spark row order
  * is undefined (SURVEY §2.4 D2).
  *
  * Plan shape: read → union → one aggregate (null-column probe) → one
  * shuffle (keyed window dedup) → result. The reference's full-row dedup
  * needs no shuffle of its own here: exact duplicate rows share a
  * timestamp, so keep-first-per-timestamp already collapses them to one
  * of several identical rows.
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

  /** Observability parity: the reference PRINTS row counts around each
    * dedup stage (fs_pp.py:98-104). Spark-first equivalent: `Observation`
    * metrics collected during the job itself — zero extra passes, unlike
    * driver-side count()s. Returns (df, observations); read
    * `obs.get("rows_in"/"rows_out")` after the first action. */
  def runObserved(spark: SparkSession, sources: Seq[Source],
                  tsCol: String = "TIMESTAMP")
                 : (DataFrame, Observation, Observation) = {
    val obsIn = Observation("l1_rows_in")
    val obsOut = Observation("l1_rows_out")
    val raw = ingest(spark, sources, tsCol)
      .observe(obsIn, count(lit(1)).as("rows_in"))
    val cleaned = clean(raw, tsCol)
      .observe(obsOut, count(lit(1)).as("rows_out"))
    (cleaned, obsIn, obsOut)
  }

  def run(spark: SparkSession, sources: Seq[Source],
          tsCol: String = "TIMESTAMP"): DataFrame =
    clean(ingest(spark, sources, tsCol), tsCol)

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

  private def clean(unioned: DataFrame, tsCol: String): DataFrame = {
    val dropped = Cleaning.dropAllNullColumns(unioned)
    // order columns from the POST-drop schema: an all-null RECORD
    // (every cell the NAN sentinel) is removed above, and a window
    // ordering by the vanished column would fail UNRESOLVED_COLUMN
    // at plan build instead of degrading to file-order tiebreak
    val ordered = Seq(col(Toa5.FileOrderCol)) ++
      (if (dropped.columns.contains("RECORD")) Seq(col("RECORD")) else Nil)
    Cleaning.dedupKeepFirst(dropped, Seq(tsCol), ordered)
      .drop(Toa5.FileOrderCol)
  }
}
