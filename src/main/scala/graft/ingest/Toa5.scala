package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1–S3 — Campbell Scientific TOA5 ingest.
  *
  * TOA5 layout (reference test_data/fielddata_202107/MainTable1.dat:1-4):
  * line 1 environment header, line 2 column names, line 3 units,
  * line 4 aggregation types, line 5+ data; `"NAN"` null sentinel; quoted
  * timestamps. The reference encodes this as pandas
  * `skiprows=[0,2,3], header=0` (fs_pp.py:231,246-260).
  *
  * Spark CSV cannot skip arbitrary row indices, so the shim:
  *  1. reads line 2 of the first file driver-side for the column names
  *     (one tiny sequential read);
  *  2. reads all files as headerless CSV with the typed schema
  *     (`schema`), so the CSV reader types each cell: the `"NAN"`
  *     sentinel (`nullValue`), an empty cell and a cell that does not
  *     parse as its column's type read as null, and the row keeps its
  *     other cells. `"INF"`/`"-INF"` (the logger's overrange cells),
  *     `"Infinity"`/`"-Infinity"` and `"NaN"` read as ±Infinity and
  *     NaN; other spellings of these (`"inf"`, `"+INF"`, `"nan"`) do
  *     not parse and read as null;
  *  3. drops each file's four header rows by predicate — they are
  *     exactly the rows whose first column does not parse as a
  *     timestamp (environment, names, units and aggregation rows are
  *     non-temporal by construction), so their time cell reads as null;
  *  4. tags each row with a file sequence number (arrival order across
  *     bales) so keep-first dedup downstream is deterministic.
  *
  * Scale: the header probe is O(1); everything else is a plain
  * distributed CSV scan — files split and parallelize as usual.
  */
object Toa5 {

  val FileOrderCol = "__file_seq"

  /** Column names from line 2 of a TOA5 file (driver-side probe). */
  def header(spark: SparkSession, path: String): Seq[String] =
    namesAtLine(spark, path, 2, "TOA5")

  /** Comma-separated, optionally quoted column names on line `lineNo`
    * (1-based) of `path` — one tiny sequential driver-side read. */
  private[graft] def namesAtLine(spark: SparkSession, path: String,
                                 lineNo: Int, what: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    try {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      (1 until lineNo).foreach(_ => reader.readLine())
      val names = reader.readLine()
      // a zero-byte / truncated file would NPE on the split with no
      // clue which file lacked its header
      require(names != null,
        s"$what header: $path has fewer than $lineNo lines — not a " +
          s"$what file")
      names.split(",").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    } finally in.close()
  }

  /** The column typing `read` applies, and so the schema Level-1 writes:
    * the time column as timestamp, `RECORD` as bigint, every other
    * column as double. */
  def schema(cols: Seq[String], timestampCol: String): StructType =
    StructType(cols.map(c => StructField(c, c match {
      case `timestampCol` => TimestampType
      case "RECORD" => LongType
      case _ => DoubleType
    })))

  /** Read an ordered list of TOA5 files (bales) into one DataFrame with
    * typed columns plus `__file_seq` preserving bale order (S2). All
    * files must share the layout of the first. `nrows` caps rows per the
    * reference's `nrows` ingest option (applied after the metadata-row
    * filter, driver-side limit). */
  def read(spark: SparkSession, paths: Seq[String],
           timestampCol: String = "TIMESTAMP",
           nrows: Option[Int] = None): DataFrame = {
    require(paths.nonEmpty, "no TOA5 files given")
    val cols = header(spark, paths.head)
    val raw = spark.read
      .schema(schema(cols, timestampCol))
      .option("header", "false")
      .option("nullValue", "NAN")
      // the logger's overrange cells; the reader's own spellings are
      // "Inf"/"-Inf", and a cell it cannot parse reads as null
      .option("positiveInf", "INF")
      .option("negativeInf", "-INF")
      .option("quote", "\"")
      .csv(paths: _*)
      .withColumn("__path", input_file_name())
    // bale order: position of each path in the caller-supplied list,
    // joined in as a BROADCAST map on the file basename — O(1) per row
    // regardless of file count (a chained CASE would be O(#files) per
    // row and degenerate at thousands of bales). First occurrence wins
    // on duplicate basenames; unmatched files sort last.
    // Keys are the last TWO path segments, URI-ENCODED like
    // input_file_name()'s output. Two segments, not one: a serviced
    // file usually KEEPS its bale name (serviced/MainTable5.dat), and
    // a basename-only key would collide with bale 5 — min-index-wins
    // would then hand the serviced rows bale 5's EARLIER seq, and
    // they would beat bales 6..n in keep-first dedup, inverting the
    // serviced-appends-last contract. Encoding: java.net.URI's
    // path constructor applies exactly the URI raw-path rules
    // (space → %20, '+' left alone — url_decode on the scan side
    // would wrongly turn '+' into a space). Hadoop Path normalizes
    // ./ and // so caller spelling cannot desync the suffix.
    def uriEncodedSeg(seg: String): String =
      new java.net.URI(null, null, "/" + seg, null)
        .getRawPath.stripPrefix("/")
    val order = paths.map { p =>
      new org.apache.hadoop.fs.Path(p).toString
        .split("/").takeRight(2).map(uriEncodedSeg).mkString("/")
    }.zipWithIndex.groupMapReduce(_._1)(_._2)(math.min)
    // an explicit schema, not toDF: deriving a tuple encoder by Scala
    // reflection costs most of a second on a cold JVM (every CLI run)
    val orderDf = broadcast(spark.createDataFrame(
      order.toSeq.map { case (k, i) => Row(k, i) }.asJava,
      StructType(Seq(StructField("__pathkey", StringType),
        StructField(FileOrderCol, IntegerType)))))
    val typed = raw
      .where(col(timestampCol).isNotNull) // drops rows 1,2,3,4
      .withColumn("__pathkey", substring_index(col("__path"), "/", -2))
      .join(orderDf, Seq("__pathkey"), "left")
      // sentinel 10⁹, NOT Int.MaxValue: Level1 adds a per-source
      // offset to this column, and MaxValue + offset overflows —
      // an ANSI ArithmeticException, or a silent wrap to negative
      // that would make unmatched files sort FIRST and win keep-first
      // dedup (the exact inversion of the documented contract)
      .withColumn(FileOrderCol,
        coalesce(col(FileOrderCol), lit(1000000000)))
      .select((cols :+ FileOrderCol).map(col): _*)
    // nrows means the reference's FIRST n rows in ingest order: a
    // bare limit over the multi-file scan takes n ARBITRARY rows
    // (Spark lists the largest split first). TOA5 bales are written
    // time-ascending, so (bale order, timestamp) reproduces physical
    // order.
    nrows.fold(typed)(n =>
      typed.orderBy(col(FileOrderCol), col(timestampCol)).limit(n))
  }

  /** S2/S3 — resolve a bale range plus optional "serviced" glob appends
    * into the ordered path list (driver-side file listing). */
  def balePaths(dir: String, start: Int, stop: Int,
                template: String = "MainTable%d.dat"): Seq[String] =
    (start to stop).map(i => s"$dir/${template.format(i)}")

  /** S3 — "serviced" discovery: glob the pattern "*MainTable*" under
    * the source's serviced subdirectory and return the single match, if
    * exactly one (the reference appends only then, and only for the
    * latest subdataset — fs_pp.py:132-149). */
  def servicedPath(spark: SparkSession, dir: String): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val glob = new org.apache.hadoop.fs.Path(s"$dir/serviced/*MainTable*")
    val matches = Option(fs.globStatus(glob)).getOrElse(Array.empty)
    if (matches.length == 1) Some(matches(0).getPath.toString) else None
  }
}
