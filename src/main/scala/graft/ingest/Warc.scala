package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500 / WARC-1.0) ingest — the standard
  * container for web crawls (Common Crawl et al.), i.e. the raw input
  * of a web-scale training-data pipeline. Pure-JVM parser off the
  * public spec: each record is
  * `WARC/1.0\r\n` + header lines (`Name: value`) + `\r\n` +
  * `Content-Length` payload bytes + `\r\n\r\n`, records concatenated;
  * `.warc.gz` files are per-record (or whole-file) gzip MEMBERS, which
  * `GZIPInputStream` decodes as one concatenated stream.
  *
  * Scale shape: one WARC file = one self-contained record stream, so
  * the natural parallelism is per-FILE (Spark's `binaryFile` source;
  * Common Crawl ships ~1 GB segments in the thousands). Parsing is
  * `flatMap` over file rows — no shuffle; downstream ops see a normal
  * (url, type, date, content_type, payload) frame and prune columns
  * as usual. Malformed tails fail soft (parsed prefix is kept) — one
  * truncated segment must not kill a 100 TB ingest. */
object Warc {

  case class Record(url: String, warcType: String, date: String,
                    contentType: String, payload: Array[Byte])

  private val Gzip = Array[Byte](0x1f.toByte, 0x8b.toByte)

  /** Parse a (possibly gzipped) byte stream of concatenated WARC
    * records. Tolerant: stops at the first structural violation and
    * returns the records parsed so far.
    *
    * STREAMING: records are consumed straight off the (decompressing)
    * stream, never materializing the whole segment — the previous
    * whole-buffer design hit ByteArrayOutputStream's 2 GiB bound on
    * real Common Crawl segments (~1 GB .gz ≈ 4-5 GiB raw) and died
    * with an uncatchable OutOfMemoryError. Only one record's payload
    * is ever resident. */
  def parseRecords(raw: Array[Byte]): Seq[Record] = {
    val base = new java.io.ByteArrayInputStream(raw)
    val in: java.io.InputStream =
      if (raw.length >= 2 && raw(0) == Gzip(0) && raw(1) == Gzip(1))
        // multi-member gzip: GZIPInputStream reads ALL members; a
        // segment cut mid-member surfaces as IOException mid-read,
        // which the parser treats as EOF (parsed prefix kept)
        new java.util.zip.GZIPInputStream(base)
      else base
    try parseStream(new java.io.BufferedInputStream(in, 64 * 1024))
    finally in.close()
  }

  /** A payload larger than this cannot be copied into one array —
    * stop (soft) like any other structural violation. Single pages
    * are MBs; only a corrupt Content-Length gets near it. */
  private val MaxPayload: Long = Int.MaxValue - 16L

  private def parseStream(in: java.io.InputStream): Seq[Record] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Record]
    // one CRLF-terminated line (spec-mandated ending); EOF without a
    // CRLF consumes the rest as the line; null = EOF with nothing
    // read; a truncated gzip member's IOException reads as EOF
    def line(): String = {
      val buf = new java.io.ByteArrayOutputStream(128)
      var c = try in.read() catch { case _: java.io.IOException => -1 }
      if (c < 0) return null
      var prev = -1
      while (c >= 0) {
        if (prev == '\r' && c == '\n') {
          val arr = buf.toByteArray
          return new String(arr, 0, arr.length - 1, "UTF-8")
        }
        buf.write(c)
        prev = c
        c = try in.read() catch { case _: java.io.IOException => -1 }
      }
      new String(buf.toByteArray, "UTF-8")
    }
    var l = line()
    while (l != null) {
      // skip inter-record blank lines
      while (l != null && l.isEmpty) l = line()
      if (l == null || !l.startsWith("WARC/")) return out.toSeq
      var url = ""; var typ = ""; var date = ""; var ct = ""
      var len = -1L
      // collect header lines first, unfolding ISO 28500 continuations
      // (a line starting with SP/HT extends the PREVIOUS header's
      // value — naive per-line parsing would truncate folded URLs, or
      // worse, read a folded line containing "content-length:" as a
      // new header and desync every later record's payload offset)
      val headers = scala.collection.mutable.ArrayBuffer.empty[String]
      var h = line()
      while (h != null && h.nonEmpty) {
        if ((h.head == ' ' || h.head == '\t') && headers.nonEmpty)
          headers(headers.length - 1) = headers.last + " " + h.trim
        else headers += h
        h = line()
      }
      if (h == null) return out.toSeq // truncated mid-headers
      headers.foreach { h =>
        val i = h.indexOf(':')
        if (i > 0) {
          // Locale.ROOT: default-locale lowercasing breaks header
          // matching on e.g. tr-TR JVMs ("URI" -> "urı")
          val name = h.substring(0, i).trim
            .toLowerCase(java.util.Locale.ROOT)
          val value = h.substring(i + 1).trim
          name match {
            case "warc-target-uri" => url = value
            case "warc-type" => typ = value
            case "warc-date" => date = value
            case "content-type" => ct = value
            case "content-length" => len =
              try value.toLong catch { case _: NumberFormatException => -1L }
            case _ =>
          }
        }
      }
      if (len < 0 || len > MaxPayload) return out.toSeq
      val payload =
        try in.readNBytes(len.toInt)
        catch { case _: java.io.IOException => return out.toSeq }
      if (payload.length < len) return out.toSeq // truncated payload
      out += Record(url, typ, date, ct, payload)
      // spec: two CRLFs close a record; the blank-line skip eats them
      l = line()
    }
    out.toSeq
  }

  /** Crawl scan: WARC files (plain or .gz) → one row per record.
    * Per-file parallelism via the `binaryFile` source; parse is a
    * shuffle-free flatMap. `maxPartitionBytes` has no effect here —
    * binaryFile yields whole files; size executor memory for the
    * largest segment (Common Crawl: ~1 GB gz). */
  def readWarcFiles(spark: SparkSession, pathGlob: String): DataFrame =
    toRecords(spark.read.format("binaryFile").load(pathGlob))

  /** Per-URL latest-capture dedup over a crawl-record frame (the
    * re-crawl step: a URL captured in many segments/snapshots keeps
    * only its newest response). Ordering parses WARC-Date as a real
    * timestamp — raw string order misorders mixed-precision ISO 8601
    * ("…00Z" sorts AFTER "…00.999Z" because '.' < 'Z'), which WARC
    * 1.0/1.1 writer mixes produce; unparseable dates sort last. The
    * raw string, file, and size break exact ties deterministically.
    * One URL-keyed shuffle + a WindowGroupLimit-eligible rank-1
    * window — the canonical per-key top-1 at corpus scale (URL
    * cardinality partitions it; no skew beyond one URL's capture
    * count). Records without a target URI (warcinfo etc.) are
    * dropped — they describe segments, not pages. */
  def latestCapture(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // try_to_timestamp, NOT cast: Spark 4 runs ANSI by default, where
    // a malformed crawl-controlled WARC-Date would throw and kill the
    // whole dedup job instead of sorting last as documented (the
    // Toa5 try_* convention)
    val w = Window.partitionBy(col("url"))
      .orderBy(try_to_timestamp(col("date")).desc_nulls_last,
        col("date").desc, col("file").desc, col("n_bytes").desc)
    records
      .where(col("warc_type") === "response" && length(col("url")) > 0)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** (path, content) segment rows → one row per parsed WARC record —
    * the parse half of `readWarcFiles`, public so in-memory segments
    * (tests, the t87 synthesized crawl) run the SAME shuffle-free
    * flatMap as file-backed ones. */
  def records(files: DataFrame): DataFrame = toRecords(files)

  private def toRecords(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        parseRecords(content).map(r =>
          (path, r.url, r.warcType, r.date, r.contentType, r.payload))
      }
      .toDF("file", "url", "warc_type", "date", "content_type",
        "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
  }
}
