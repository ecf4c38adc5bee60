package graft

import graft.ingest.Warc
import graft.ops.TextOps

/** WARC parser + reader spec. The WARC bytes are built by hand from
  * the ISO 28500 grammar (header lines + Content-Length payload +
  * double CRLF), sharing no code with the parser. */
class WarcSpec extends SparkSpec {

  private def rec(typ: String, url: String, payload: Array[Byte],
                  ct: String = "text/plain",
                  date: String = "2026-08-13T00:00:00Z"): Array[Byte] = {
    val head = (s"WARC/1.0\r\n" +
      s"WARC-Type: $typ\r\n" +
      (if (url.nonEmpty) s"WARC-Target-URI: $url\r\n" else "") +
      s"WARC-Date: $date\r\n" +
      s"Content-Type: $ct\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n").getBytes("UTF-8")
    head ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private val http =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>hi</html>"
      .getBytes("UTF-8")

  test("warc: parses concatenated records with headers and payloads") {
    val bytes = rec("warcinfo", "", "software: graft\r\n".getBytes("UTF-8"),
      ct = "application/warc-fields") ++
      rec("response", "https://example.com/a", http,
        ct = "application/http;msgtype=response") ++
      rec("request", "https://example.com/a",
        "GET /a HTTP/1.1\r\n\r\n".getBytes("UTF-8"),
        ct = "application/http;msgtype=request")
    val rs = Warc.parseRecords(bytes)
    assert(rs.map(_.warcType) === Seq("warcinfo", "response", "request"))
    assert(rs(1).url === "https://example.com/a")
    assert(rs(1).date === "2026-08-13T00:00:00Z")
    assert(rs(1).contentType === "application/http;msgtype=response")
    assert(rs(1).payload.toSeq === http.toSeq) // byte-exact payload
  }

  test("warc: gzip members decode; truncated tails fail soft") {
    val plain = rec("response", "https://example.com/x", http) ++
      rec("response", "https://example.com/y", http)
    // gzip the whole stream (GZIPInputStream also handles per-record
    // members — same concatenated-member decode path)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(plain); gz.close()
    val rs = Warc.parseRecords(bos.toByteArray)
    assert(rs.map(_.url) ===
      Seq("https://example.com/x", "https://example.com/y"))
    // truncated mid-payload: the intact first record is kept
    val cut = plain.take(plain.length - http.length - 10)
    val partial = Warc.parseRecords(cut)
    assert(partial.map(_.url) === Seq("https://example.com/x"))
    // garbage is not a record stream
    assert(Warc.parseRecords("not a warc".getBytes("UTF-8")).isEmpty)
    assert(Warc.parseRecords(Array.emptyByteArray).isEmpty)
  }

  test("warc: gzip cut mid-member keeps the decoded prefix (no throw)") {
    val plain = rec("response", "https://example.com/x", http) ++
      rec("response", "https://example.com/y", http)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(plain); gz.close()
    val whole = bos.toByteArray
    // cut the COMPRESSED stream: GZIPInputStream hits EOF mid-inflate;
    // the records decoded before the cut must survive — a truncated
    // segment upload must not kill the ingest task
    val cut = java.util.Arrays.copyOfRange(whole, 0, whole.length - 8)
    val rs = Warc.parseRecords(cut)
    assert(rs.nonEmpty && rs.head.url === "https://example.com/x")
  }

  test("warc: folded header continuations unfold per ISO 28500") {
    val payload = "x".getBytes("UTF-8")
    val bytes = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: https://example.com/very\r\n" +
      "  /long/path\r\n" + // continuation: extends the URI value
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n").getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    val rs = Warc.parseRecords(bytes)
    assert(rs.map(_.url) === Seq("https://example.com/very /long/path"))
    // a folded line containing a colon must NOT parse as a new header
    // (the dangerous case: "content-length: N" inside a folded value
    // would desync every later record's payload offset)
    val tricky = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: https://example.com/a\r\n" +
      "  content-length: 9999\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n").getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8") ++
      rec("response", "https://example.com/b", payload)
    val rs2 = Warc.parseRecords(tricky)
    // the folded text joins the URI VALUE (spec unfold) — the real
    // invariant is that Content-Length stays 1, payload offsets stay
    // synced, and the following record still parses
    assert(rs2.map(_.url) === Seq(
      "https://example.com/a content-length: 9999",
      "https://example.com/b"))
    assert(rs2.head.payload.toSeq === payload.toSeq)
  }

  test("warc → documents: httpBody + htmlToText extract clean text") {
    import org.apache.spark.sql.functions.col
    import graft.ops.TextOps
    val html = "HTTP/1.1 200 OK\r\nServer: x\r\n\r\n" +
      "<html><head><style>p{color:red}</style>" +
      "<script>var x = '<p>';</script></head>" +
      "<!-- nav --><body><h1>Title</h1>" +
      "<p>Hello &amp; welcome to &lt;graft&gt;!</p>\r\n\r\n" + // blank line IN body
      "<p>Second&nbsp;para</p></body></html>"
    val bytes = rec("response", "https://example.com/p",
      html.getBytes("UTF-8"), ct = "application/http;msgtype=response")
    val dir = java.nio.file.Files.createTempDirectory("warc2")
    java.nio.file.Files.write(dir.resolve("seg.warc"), bytes)
    val txt = Warc.readWarcFiles(spark, dir.toString + "/*")
      .where(col("warc_type") === "response")
      .select(TextOps.htmlToText(
        TextOps.httpBody(col("payload"))).as("text"))
      .head().getString(0)
    // body split at the FIRST blank line (the in-body one is content);
    // script/style/comments dropped, entities decoded, ws collapsed
    assert(txt === "Title Hello & welcome to <graft>! Second para")
    // headerless payloads pass through whole
    val noHdr = spark.sql("SELECT 'plain' AS p")
      .select(TextOps.httpBody(col("p"))).head().getString(0)
    assert(noHdr === "plain")
    // double-encoded entities decode exactly ONE level: &amp;lt; is
    // the author writing the literal text "&lt;", not a tag bracket
    val dbl = spark.sql("SELECT 'a &amp;lt;b&amp;gt; &amp;amp; c' AS h")
      .select(TextOps.htmlToText(col("h"))).head().getString(0)
    assert(dbl === "a &lt;b&gt; &amp; c")
    // LF-only responses (non-conformant servers) still split headers
    // from body — and an earlier bare-LF blank outranks a CRLF CRLF
    // appearing later inside the body
    val lf = spark.sql(
      "SELECT 'HTTP/1.1 200 OK\nServer: x\n\nbody \r\n\r\n tail' AS p")
      .select(TextOps.httpBody(col("p"))).head().getString(0)
    assert(lf === "body \r\n\r\n tail")
  }

  test("warc: readWarcFiles scans a directory of segments in parallel") {
    val dir = java.nio.file.Files.createTempDirectory("warc")
    java.nio.file.Files.write(dir.resolve("seg-0.warc"),
      rec("response", "https://example.com/1", http) ++
        rec("response", "https://example.com/2", http))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(rec("response", "https://example.com/3", http)); gz.close()
    java.nio.file.Files.write(dir.resolve("seg-1.warc.gz"),
      bos.toByteArray)
    val df = Warc.readWarcFiles(spark, dir.toString + "/*")
    val rows = df.select("url", "warc_type", "n_bytes")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("https://example.com/1",
      "https://example.com/2", "https://example.com/3"))
    assert(rows.forall(r => r._2 == "response" && r._3 == http.length))
  }

  test("warc: latestCapture keeps the newest response per URL") {
    val dir = java.nio.file.Files.createTempDirectory("warc3")
    val old = "old".getBytes("UTF-8"); val neu = "new!".getBytes("UTF-8")
    // the same URL captured in two snapshots (different segments) —
    // plus a warcinfo record (no URI) that must drop out entirely
    java.nio.file.Files.write(dir.resolve("snap1.warc"),
      rec("warcinfo", "", "software: x\r\n".getBytes("UTF-8")) ++
        rec("response", "https://example.com/a", old,
          date = "2026-07-01T00:00:00Z") ++
        rec("response", "https://example.com/b", old,
          date = "2026-07-01T00:00:00Z"))
    java.nio.file.Files.write(dir.resolve("snap2.warc"),
      rec("response", "https://example.com/a", neu,
        date = "2026-08-01T00:00:00Z") ++
        // mixed-precision same-second capture (WARC 1.1 fractional
        // seconds): 500 ms NEWER than b's snap1 capture, but the raw
        // string sorts LOWER ('.' < 'Z') — timestamp parse must win
        rec("response", "https://example.com/b", neu,
          date = "2026-07-01T00:00:00.500Z"))
    val kept = Warc.latestCapture(
      Warc.readWarcFiles(spark, dir.toString + "/*"))
      .select("url", "date", "n_bytes").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(kept.toSeq === Seq(
      ("https://example.com/a", "2026-08-01T00:00:00Z", neu.length.toLong),
      ("https://example.com/b", "2026-07-01T00:00:00.500Z",
        neu.length.toLong)))
  }

  test("warc: a malformed WARC-Date sorts last instead of killing " +
    "the job under ANSI") {
    // Spark 4 defaults ANSI on: a plain cast('timestamp') on a
    // crawl-controlled date THROWS on the first typo'd record —
    // try_to_timestamp must null it and rank the record below every
    // parseable capture
    val dir = java.nio.file.Files.createTempDirectory("warc4")
    java.nio.file.Files.write(dir.resolve("s.warc"),
      rec("response", "https://example.com/a", "bad".getBytes("UTF-8"),
        date = "2026-13-99T99:99:99Z") ++ // unparseable
        rec("response", "https://example.com/a",
          "good".getBytes("UTF-8"), date = "2020-01-01T00:00:00Z"))
    val kept = Warc.latestCapture(
      Warc.readWarcFiles(spark, dir.toString + "/*"))
      .select("date").collect().map(_.getString(0))
    assert(kept.toSeq === Seq("2020-01-01T00:00:00Z"),
      "the parseable capture must win over the malformed date")
  }

  test("htmlToText: a tag merely PREFIXED by style/script is not a " +
    "block delete") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val html = "<styleguide class=x>visible prose</styleguide> " +
      "mid <style>.a{}</style> tail"
    val out = Seq(Tuple1(html)).toDF("h")
      .select(TextOps.htmlToText(col("h"))).head().getString(0)
    assert(out.contains("visible prose") && out.contains("mid") &&
      out.contains("tail") && !out.contains(".a{}"),
      s"prefix-named tags must survive, real style blocks drop: '$out'")
  }
}
