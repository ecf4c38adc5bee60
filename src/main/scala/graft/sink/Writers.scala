package graft.sink

import java.io.{IOException, OutputStream, OutputStreamWriter}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Sinks S4/S7/S8: level-1/2 CSV products and the Parquet+sidecar
  * replacement for the reference's NetCDF export.
  *
  * The reference's NetCDF (fs_process_l2.py:177-204) carries: variables
  * dimensioned (time × sensor), an install-depth coordinate, CF attrs
  * (units, standard_name), global site attrs, and int32 fixed-point
  * encoding (scale 0.001, fill −9999). Information parity in Spark land:
  * long-form Parquet (time, sensor, value, install_depth) partitioned for
  * pruning + a JSON attrs sidecar; fixed-point ≙ an int32 column
  * `round(value*1000)` when requested (SURVEY §2.1 S8).
  */
object Writers {

  /** S4 — the product as ONE continuous CSV file, `part-00000.csv`
    * under the directory `path` (a stated product property of level-1;
    * callers at scale should use partitioned parquet instead), with
    * `_SUCCESS` beside it once it is in place; an existing `path` is
    * replaced. The rows are written in the order given, by the
    * generator Spark's own CSV writer runs in its task, with the options
    * that writer builds for `header = true` under the session time zone:
    * the bytes are the ones `coalesce(1).write.csv` writes. */
  def csvSingle(spark: SparkSession, schema: StructType,
                rows: Array[InternalRow], path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir) && !fs.delete(dir, true))
      throw new IOException(s"could not delete $dir")
    // columnPruning is a read-side setting
    val options = new CSVOptions(Map("header" -> "true"),
      columnPruning = false, spark.conf.get("spark.sql.session.timeZone"))
    commitFile(conf, new Path(dir, "part-00000.csv")) { out =>
      val gen = new UnivocityGenerator(schema,
        new OutputStreamWriter(out, options.charset), options)
      gen.writeHeaders()
      rows.foreach(gen.write)
      gen.flush()
    }
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** Writes the file `path` through the Hadoop FileSystem of its URI:
    * `write` fills a hidden sibling, which then replaces `path` by a
    * rename, so `path` is untouched until the write has finished. A
    * failure removes the sibling. */
  private[sink] def commitFile(conf: Configuration, path: Path)
                              (write: OutputStream => Unit): Unit = {
    val fs = path.getFileSystem(conf)
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    try {
      val out = fs.create(tmp, true)
      try write(out) finally out.close()
      if (fs.exists(path) && !fs.delete(path, false))
        throw new IOException(s"could not delete $path")
      if (!fs.rename(tmp, path))
        throw new IOException(s"could not rename $tmp to $path")
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
  }

  // escapes control chars too: attribute values come from callers,
  // and a raw newline inside a JSON string breaks the JSON
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jobj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
      .mkString("{", ", ", "}")

  // Sidecars go through the Hadoop FileSystem resolved from the path —
  // java.nio on the raw string only works for local paths, while the
  // parquet half of these sinks accepts any Hadoop URI (HDFS, object
  // storage); the two halves must land on the SAME filesystem.
  private def writeSidecar(conf: Configuration, dir: String,
                           name: String, content: String): Unit = {
    val hp = new Path(dir, name)
    val out = hp.getFileSystem(conf).create(hp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSidecar(dir: String, name: String): String = {
    val hp = new Path(dir, name)
    // resolve through the live session's hadoopConfiguration when one
    // exists — the WRITE side does, and a sidecar written to a
    // runtime-configured filesystem (programmatic credentials, a
    // registered fs.X.impl) would otherwise be unreadable through a
    // bare new Configuration()
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val in = hp.getFileSystem(conf).open(hp)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** S8 — Parquet + JSON attribute sidecar, optionally partitioned by
    * time columns for scan pruning. This is the DISTRIBUTED analytical
    * store; for interchange with NetCDF/CF tooling the same dataset
    * exports as a real classic-format binary via `NetCdf.writeWide`
    * (driver-side, export-sized — the reference's own xarray
    * semantics).
    *
    * `varAttrs` carries PER-VARIABLE attributes (units, standard_name
    * per sensor family — fs_process_l2.py:84-95,177-192), nested under a
    * `"__variables"` key so global and per-variable attrs round-trip
    * separately, matching NetCDF's global-vs-variable attr split. */
  def parquetWithAttrs(df: DataFrame, path: String,
                       attrs: Map[String, String],
                       partitionBy: Seq[String] = Nil,
                       fixedPointCols: Seq[String] = Nil,
                       varAttrs: Map[String, Map[String, String]] = Map.empty)
                      : Unit = {
    import org.apache.spark.sql.functions._
    val encoded = fixedPointCols.foldLeft(df) { (d, c) =>
      // NaN is the OTHER missing-value spelling (xarray decodes the
      // -9999 fill to NaN, so re-exported frames carry it): it must
      // encode as the fill too — cast(NaN as int) throws under
      // Spark 4's default ANSI mode, and yields a plausible-looking
      // 0 under non-ANSI — silent corruption either way
      d.withColumn(c,
        when(col(c).isNull || isnan(col(c)), lit(-9999))
          .otherwise(round(col(c) * 1000).cast("int")))
    }
    val w = encoded.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
    val fields = attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" } ++
      (if (varAttrs.nonEmpty)
        Seq("\"__variables\": " + varAttrs.toSeq.sortBy(_._1)
          .map { case (v, m) => s"${jstr(v)}: ${jobj(m)}" }
          .mkString("{", ", ", "}"))
      else Nil)
    writeSidecar(df.sparkSession.sparkContext.hadoopConfiguration,
      path, "_attrs.json", fields.mkString("{", ", ", "}"))
  }

  /** Parse the sidecar back: (global attrs, per-variable attrs). A tiny
    * recursive-descent JSON reader scoped to what the writer emits —
    * string values one level deep, plus the `__variables` object. */
  def readAttrs(path: String): (Map[String, String],
                                Map[String, Map[String, String]]) = {
    val s = readSidecar(path, "_attrs.json")
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def expect(c: Char): Unit = { ws(); require(s(i) == c, s"$c at $i"); i += 1 }
    def str(): String = {
      ws(); require(s(i) == '"'); i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          // DECODE the escape symmetrically with jstr — skipping the
          // backslash alone read "\n" back as the literal 'n' and
          // "\u0003" as the 5-char "u0003", silently corrupting any
          // attr value containing control characters on round-trip
          i += 1
          s(i) match {
            case 'n' => sb += '\n'; i += 1
            case 'r' => sb += '\r'; i += 1
            case 't' => sb += '\t'; i += 1
            case 'u' =>
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 5
            case c => sb += c; i += 1 // \\ and \" decode to themselves
          }
        } else { sb += s(i); i += 1 }
      }
      i += 1
      sb.toString
    }
    def obj(): Map[String, String] = {
      expect('{'); ws()
      val m = scala.collection.mutable.LinkedHashMap[String, String]()
      while ({ ws(); s(i) != '}' }) {
        if (s(i) == ',') i += 1
        val k = str(); expect(':'); m(k) = str()
      }
      i += 1
      m.toMap
    }
    expect('{')
    val g = scala.collection.mutable.LinkedHashMap[String, String]()
    var vars = Map.empty[String, Map[String, String]]
    while ({ ws(); s(i) != '}' }) {
      if (s(i) == ',') i += 1
      val k = str(); expect(':')
      ws()
      if (s(i) == '{') {
        require(k == "__variables", s"unexpected object at key $k")
        expect('{')
        val vm = scala.collection.mutable.LinkedHashMap[String, Map[String, String]]()
        while ({ ws(); s(i) != '}' }) {
          if (s(i) == ',') i += 1
          val v = str(); expect(':'); vm(v) = obj()
        }
        i += 1
        vars = vm.toMap
      } else g(k) = str()
    }
    (g.toMap, vars)
  }
}
