package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.streaming.Streaming

class StreamingMultimodalSpec extends SparkSpec {

  import spark.implicits._

  test("foreachBatch append dedups against the sink across microbatches") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_ingest").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    // batch 1: two distinct docs + an in-batch duplicate of A
    input.addData((1L, "doc A"), (2L, "doc B"), (3L, "doc A"))
    q.processAllAvailable()
    // batch 2: a sink duplicate (A again) + a novel doc
    input.addData((4L, "doc A"), (5L, "doc C"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(sink)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out === Map(1L -> "doc A", 2L -> "doc B", 5L -> "doc C"))
  }

  test("frontierDedupStream: canonical-URL first-sighting across batches") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_frontier").toString + "/frontier"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.frontierDedupStream(
      input.toDS().toDF("disc_id", "url"), "disc_id", "url", sink)
      .start()
    // batch 1: one logical URL under two spellings + a distinct one
    input.addData(
      (1L, "https://www.Site.com:443/a/?utm_source=x"),
      (2L, "https://site.com/a"),
      (3L, "https://site.com/b"))
    q.processAllAvailable()
    // batch 2: a sink duplicate under a THIRD spelling + a novel URL
    // + two DISTINCT scheme-less strings — unparseable URLs pass
    // through as their own keys (each kept), they must NOT collapse
    // onto one degenerate key that swallows all later ones
    input.addData(
      (4L, "HTTPS://SITE.com/a#frag"),
      (5L, "https://site.com"),
      (6L, "//cdn.site.com/lib.js"),
      (7L, "/relative/path"))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("disc_id") -> r.getAs[String]("canon_url"))
      .toMap
    assert(out === Map(
      1L -> "https://site.com/a", // min disc_id of the in-batch rivals
      3L -> "https://site.com/b",
      5L -> "https://site.com/",
      6L -> "//cdn.site.com/lib.js",
      7L -> "/relative/path"))
  }

  test("appendDedupedStream: a null-key row lands once, not once " +
    "per batch") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_nullkey").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    input.addData((1L, "real text"), (2L, null.asInstanceOf[String]))
    q.processAllAvailable()
    input.addData((3L, null.asInstanceOf[String]),
      (4L, "other text"))
    q.processAllAvailable()
    input.addData((5L, null.asInstanceOf[String]))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(sink)
    // a plain equi-anti-join never matches null keys: every batch
    // with a null-text row used to append another copy forever
    assert(rows.where(col("text").isNull).count() === 1,
      "the null key dedups like any other key (null-safe anti-join)")
    assert(rows.count() === 3)
  }

  test("noveltyGateStream admits novel docs, rejects re-syndication, " +
    "folds ONLY admitted grams") {
    implicit val sc = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("novelty").toString + "/ng"
    def words(a: Int, b: Int) = (a until b).map(i => s"w$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = Streaming.noveltyGateStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink,
      n = 4, numBits = 1 << 16, numHashes = 4,
      minNovelPpm = 500000L).start()
    // batch 0: two fully-novel docs
    input.addData((1L, words(0, 40)), (2L, words(100, 140)))
    q.processAllAvailable()
    // batch 1: 30 seen + 10 new tokens -> 10/37 grams novel (27%,
    // rejected); a fully new doc (admitted); a 3-token doc (< n, no
    // gram evidence, not admitted)
    val doc3 = words(0, 30) + " " + words(300, 310)
    input.addData((3L, doc3), (4L, words(200, 240)), (5L, "a b c"))
    q.processAllAvailable()
    // batch 2: copies of an ADMITTED doc (novelty 0 — its grams
    // folded) and of the REJECTED doc 3 — whose grams must NOT have
    // folded, so the copy re-measures doc 3's own 27%, not 0
    input.addData((6L, doc3), (7L, words(200, 240)))
    q.processAllAvailable()
    q.stop()
    val rep = spark.read.parquet(s"$sink/admitted").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("admitted"), r.getAs[Long]("novel_ppm")))).toMap
    assert(rep(1L) === ((1L, 1000000L)))
    assert(rep(2L) === ((1L, 1000000L)))
    assert(rep(4L) === ((1L, 1000000L)))
    assert(rep(5L) === ((0L, 0L)), "no gram evidence -> not admitted")
    assert(rep(3L)._1 === 0L, "27% novel must be rejected at 50%")
    assert(rep(3L)._2 === 1000000L * 10 / 37)
    assert(rep(6L) === ((0L, 1000000L * 10 / 37)),
      "rejected doc 3's grams must not have folded — its copy " +
        "re-measures the same novelty, not zero")
    assert(rep(7L) === ((0L, 0L)),
      "admitted doc 4's grams folded — its copy has zero novelty")
    // saturation observability: batch 0 probed no standing bitmap
    // (0 ppm); later batches report the folded bits, far below the
    // 50% alarm at this sizing
    val sat = spark.read.parquet(s"$sink/admitted")
      .select("doc_id", "bloom_sat_ppm").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sat(1L) === 0L)
    assert(sat(6L) > 0L && sat(6L) < 500000L)
  }

  test("multimodal: stub decode produces normalized fixed-dim features") {
    val rows = Seq(
      Row(1L, "image", Array[Byte](0, 1, 2, 3, 4, 5, 6, 7),
        Row(4, 2, null, 0L, "fake")),
      Row(2L, "audio", Array[Byte](10, 10, 10, 10),
        Row(null, null, 16000, 250L, "pcm")),
      Row(3L, "image", null, Row(1, 1, null, 0L, "fake")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 8).collect()
      .sortBy(_.id)
    assert(feats.length === 2) // null payload dropped
    assert(feats.forall(_.features.length === 8))
    // histogram of bytes 0..7 over dim 8: one hit per bucket, /8
    assert(feats(0).features.forall(f => math.abs(f - 0.125f) < 1e-6))
    // determinism
    val again = Multimodal.extractFeatures(df, dim = 8).collect()
      .sortBy(_.id)
    assert(again(0).features.toSeq === feats(0).features.toSeq)
  }

  test("multimodal: resizeImages box-pools real pixels, passes small " +
    "and undecodable rows through, and is deterministic") {
    def png(w: Int, h: Int)(color: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, color(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 100×60, left half red, right half blue → 50×30 keeps the split
    val big = png(100, 60)((x, _) => if (x < 50) 0xFF0000 else 0x0000FF)
    val small = png(8, 8)((_, _) => 0x00FF00)
    val rows = Seq(
      Row(1L, "image", big, Row(100, 60, null, 0L, "png")),
      Row(2L, "image", small, Row(8, 8, null, 0L, "png")),
      Row(3L, "image", Array[Byte](9, 9, 9), // undecodable
        Row(null, null, null, 0L, "junk")),
      Row(4L, "audio", Array[Byte](1, 2), // non-image modality
        Row(null, null, 16000, 250L, "pcm")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val out = Multimodal.resizeImages(df, 50, 50).collect()
      .map(r => r.getLong(0) -> r).toMap
    // aspect preserved: 100x60 fits 50x50 as 50x30
    assert(out(1L).getInt(4) === 50 && out(1L).getInt(5) === 30
      && out(1L).getBoolean(6))
    val rimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).getAs[Array[Byte]](2)))
    assert(rimg.getWidth === 50 && rimg.getHeight === 30)
    // box filter preserved pure regions (no interpolation bleed past
    // the cell that straddles the boundary)
    assert((rimg.getRGB(5, 15) & 0xFFFFFF) === 0xFF0000)
    assert((rimg.getRGB(45, 15) & 0xFFFFFF) === 0x0000FF)
    // already-inside-the-box image passes through BYTE-identical
    assert(out(2L).getAs[Array[Byte]](2).toSeq === small.toSeq)
    assert(out(2L).getInt(4) === 8 && !out(2L).getBoolean(6))
    // undecodable and non-image rows pass through, flagged
    assert(out(3L).getAs[Array[Byte]](2).toSeq === Seq[Byte](9, 9, 9))
    assert(out(3L).isNullAt(4) && !out(3L).getBoolean(6))
    assert(!out(4L).getBoolean(6))
    // deterministic pixels: a second pass produces identical payloads
    val again = Multimodal.resizeImages(df, 50, 50).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](2)).toMap
    assert(again(1L).toSeq === out(1L).getAs[Array[Byte]](2).toSeq)
  }

  test("multimodal: ImageIoKernel decodes a real PNG to width/height/histogram") {
    // 6×4 PNG: left half pure black, right half pure white
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6)
      img.setRGB(x, y, if (x < 3) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val rows = Seq(
      Row(1L, "image", png, Row(6, 4, null, 0L, "png")),
      Row(2L, "audio", Array[Byte](10, 10, 10, 10),
        Row(null, null, 16000, 250L, "pcm")),
      Row(3L, "image", Array[Byte](1, 2, 3), // not a decodable image
        Row(null, null, null, 0L, "junk")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 10,
      kernel = Multimodal.ImageIoKernel).collect().sortBy(_.id)
    assert(feats.length === 3)
    val f1 = feats(0).features
    assert(f1(0) === 6.0f && f1(1) === 4.0f) // real decoded dimensions
    // half the pixels land in the darkest luma bin, half in the lightest
    assert(math.abs(f1(2) - 0.5f) < 1e-6)
    assert(math.abs(f1(9) - 0.5f) < 1e-6)
    assert(math.abs(f1.drop(2).sum - 1.0f) < 1e-5) // normalized
    // non-image and undecodable payloads fall back to the byte histogram
    assert(feats(1).features.toSeq ===
      Multimodal.HistogramKernel.decode("audio",
        Array[Byte](10, 10, 10, 10), 10).toSeq)
    assert(feats(2).features.length === 10)
  }

  test("multimodal: AudioWavKernel decodes a real WAV to PCM moments") {
    // 0.5 s of a 440 Hz sine at 8 kHz mono, amplitude 0.5, written as
    // a real RIFF/WAVE file through javax.sound — the decode path then
    // re-reads it from bytes exactly as a payload column would arrive.
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    val sr = 8000f; val n = 4000
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (0.5 * math.sin(2 * math.Pi * 440 * i / sr) * 32767).toInt
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(sr, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
        n.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray
    val rows = Seq(
      Row(1L, "audio", wav, Row(null, null, 8000, 500L, "wav")),
      Row(2L, "audio", Array[Byte](1, 2, 3), // not decodable audio
        Row(null, null, null, 0L, "junk")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 10,
      kernel = Multimodal.AudioWavKernel).collect().sortBy(_.id)
    val f = feats(0).features
    assert(f(0) === 8000.0f && f(1) === 1.0f && f(2) === 4000.0f)
    assert(math.abs(f(3)) < 0.01) // sine mean ≈ 0
    assert(math.abs(f(4) - 0.5f / math.sqrt(2).toFloat) < 0.01) // rms
    // 440 Hz over 0.5 s = 220 periods, 2 crossings each
    assert(math.abs(f(5) - 440.0f / 3999.0f) < 0.01)
    assert(math.abs(f.drop(6).sum - 1.0f) < 1e-5) // histogram normalized
    // amplitude ±0.5 → the outer bins of [−1,1] stay empty
    assert(f(6) === 0.0f && f(9) === 0.0f)
    // undecodable audio falls back to the byte histogram
    assert(feats(1).features.toSeq ===
      Multimodal.HistogramKernel.decode("audio", Array[Byte](1, 2, 3),
        10).toSeq)
    // non-audio modalities delegate to the image kernel unchanged
    assert(Multimodal.AudioWavKernel.decode("image", Array[Byte](9), 10)
      .toSeq === Multimodal.ImageIoKernel.decode("image", Array[Byte](9),
        10).toSeq)
  }

  test("multimodal: Mp4MetaKernel parses a real ISO-BMFF container") {
    // A minimal but spec-shaped MP4 built box-by-box (ISO/IEC 14496-12):
    // ftyp + moov(mvhd + video trak(hdlr/stsd avc1 640×360)
    //            + audio trak(hdlr/stsd mp4a 2ch 48kHz)) + mdat.
    // The builder shares no code with the parser.
    def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      java.nio.ByteBuffer.allocate(8 + body.length)
        .putInt(8 + body.length).put(typ.getBytes("US-ASCII"))
        .put(body).array()
    }
    def fill(n: Int)(set: java.nio.ByteBuffer => Unit): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n); set(b); b.array()
    }
    val mvhd = box("mvhd", fill(100) { b => // v0: ts@12, dur@16
      b.putInt(12, 1000); b.putInt(16, 2500) })
    def hdlr(h: String) = box("hdlr", fill(25) { b =>
      b.position(8); b.put(h.getBytes("US-ASCII")) })
    val avc1 = fill(86) { b => // visual sample entry: w@32, h@34
      b.putInt(0, 86); b.position(4); b.put("avc1".getBytes("US-ASCII"))
      b.putShort(32, 640.toShort); b.putShort(34, 360.toShort) }
    val mp4a = fill(36) { b => // audio entry: ch@24, rate 16.16@32
      b.putInt(0, 36); b.position(4); b.put("mp4a".getBytes("US-ASCII"))
      b.putShort(24, 2.toShort); b.putShort(26, 16.toShort)
      b.putInt(32, 48000 << 16) }
    def stsd(entry: Array[Byte]) = box("stsd", fill(8) { b =>
      b.putInt(4, 1) }, entry)
    def trak(h: String, entry: Array[Byte]) = box("trak",
      box("tkhd", new Array[Byte](84)),
      box("mdia", hdlr(h), box("minf", box("stbl", stsd(entry)))))
    val mp4 = box("ftyp", "isomiso2".getBytes("US-ASCII")) ++
      box("moov", mvhd, trak("vide", avc1), trak("soun", mp4a)) ++
      box("mdat", Array[Byte](1, 2, 3, 4))
    val f = Multimodal.Mp4MetaKernel.decode("video", mp4, 12)
    assert(f(0) === 2500.0f) // mvhd duration 2500/1000 ticks → ms
    assert(f(1) === 2.0f) // two tracks
    assert(f(2) === 640.0f && f(3) === 360.0f) // stsd coded size
    assert(f(4) === 48000.0f && f(5) === 2.0f) // audio rate/channels
    assert(f(6) === 1.0f && f(7) === 1.0f) // has video + audio
    assert(math.abs(f.drop(8).sum - 1.0f) < 1e-5) // histogram tail
    // mvhd all-ones duration = "unknown" (fMP4/live): parses, but the
    // duration feature reports 0 rather than a ~50-day garbage value
    val unkMvhd = box("mvhd", fill(100) { b =>
      b.putInt(12, 1000); b.putInt(16, -1) }) // 0xFFFFFFFF
    val unk = box("ftyp", "isomiso2".getBytes("US-ASCII")) ++
      box("moov", unkMvhd, trak("vide", avc1))
    val fu = Multimodal.Mp4MetaKernel.decode("video", unk, 12)
    assert(fu(0) === 0.0f && fu(1) === 1.0f && fu(6) === 1.0f)
    // non-MP4 / truncated payloads fall back to the byte histogram
    assert(Multimodal.Mp4MetaKernel.decode("video",
      Array[Byte](1, 2, 3), 12).toSeq ===
      Multimodal.HistogramKernel.decode("video", Array[Byte](1, 2, 3),
        12).toSeq)
    assert(Multimodal.Mp4MetaKernel.decode("video",
      mp4.take(40), 12).toSeq ===
      Multimodal.HistogramKernel.decode("video", mp4.take(40),
        12).toSeq)
    // non-video modalities delegate down the kernel chain unchanged
    assert(Multimodal.Mp4MetaKernel.decode("image", Array[Byte](9), 12)
      .toSeq === Multimodal.AudioWavKernel.decode("image",
        Array[Byte](9), 12).toSeq)
    // end-to-end through the partition-batch path
    val rows = Seq(Row(1L, "video", mp4,
      Row(640, 360, 48000, 2500L, "mp4")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val feats = Multimodal.extractFeatures(df, dim = 12,
      kernel = Multimodal.Mp4MetaKernel).collect()
    assert(feats.head.features.toSeq === f.toSeq)
  }

  test("multimodal: meta-only stats and frame sampling") {
    val rows = Seq(
      Row(1L, "video", Array[Byte](1), Row(640, 480, null, 1000L, "v")),
      Row(2L, "video", Array[Byte](2), Row(1280, 720, null, 2000L, "v")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val stats = Multimodal.metaStats(df).head()
    assert(stats.getAs[Long]("n") === 2)
    assert(stats.getAs[Double]("avg_width") === 960.0)
    val frames = Multimodal.sampleFrames(df, 4)
    assert(frames.count() === 8)
    val idx = frames.where($"id" === 1L).select("frame_idx")
      .collect().map(_.getLong(0)).toSeq
    assert(idx === Seq(0L, 250L, 500L, 750L))
  }

  /** Render a 9×8-cell pattern as a PNG, each cell a `block`×`block`
    * square of the constant gray level pattern(y)(x) — so the dHash
    * average-pooled grid recovers the pattern EXACTLY (graylevel
    * (v,v,v) has integer luma v: (299+587+114)v/1000 = v). */
  private def patternPng(pattern: Array[Array[Int]], block: Int)
      : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9 * block, 8 * block,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8 * block; x <- 0 until 9 * block) {
      val v = pattern(y / block)(x / block)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("multimodal: videoFrameDHash decodes REAL pixels from " +
    "MJPEG-in-AVI, one dHash per frame in the still-image hash space") {
    def u32le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte)
        else Array.empty[Byte]
      cc.getBytes("US-ASCII") ++ u32le(body.length) ++ body ++ pad
    }
    // three JPEG frames with visibly different gradients
    def jpeg(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = ((x * seed + y * (4 - seed)) * 2) % 256
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val frames = Seq(jpeg(1), jpeg(2), jpeg(3))
    // RIFF('AVI ') → LIST('movi') → one '00dc' chunk per frame, plus
    // a non-video chunk ('01wb' audio) that must not decode
    val movi = "movi".getBytes("US-ASCII") ++
      frames.flatMap(f => chunk("00dc", f)) ++
      chunk("01wb", Array.fill[Byte](17)(3))
    val avi = chunk("RIFF",
      "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi))

    import spark.implicits._
    val df = Seq(
      (1L, "video", avi),
      (2L, "video", Array.fill[Byte](64)(7)),      // not a RIFF
      (3L, "video", avi.take(40)),                 // truncated mid-chunk
      (4L, "image", frames.head))                  // wrong modality
      .toDF("id", "modality", "payload")
    val out = Multimodal.videoFrameDHash(df)
      .orderBy("id", "frame_idx").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 1L, 1L),
      "exactly the 3 MJPEG frames of the real AVI decode")
    assert(out.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    // frame hashes live in the SAME space as still-image dHash —
    // a reposted keyframe thumbnail collides with its frame
    out.zip(frames).foreach { case (r, jpg) =>
      assert(r.getLong(2) === Multimodal.dHash64(jpg).get)
    }
    // the three gradients hash differently (real pixels, not a stub)
    assert(out.map(_.getLong(2)).distinct.length === 3)
    // determinism
    val again = Multimodal.videoFrameDHash(df)
      .orderBy("id", "frame_idx").collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("multimodal: dHash is brightness/scale-invariant; band join finds near-dups") {
    // base: luma strictly increasing left→right in every row → every
    // adjacent comparison is "<" → all 64 bits set
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    // +20 uniform brightness: every comparison unchanged
    val bright = base.map(_.map(_ + 20))
    // reversed: strictly decreasing → all bits clear (Hamming 64)
    val reversed = Array.tabulate(8, 9)((y, x) => (8 - x) * 10 + y)
    // one flipped comparison: cell (0,0) raised above cell (0,1)
    val oneOff = base.map(_.clone())
    oneOff(0)(0) = 15 // 15 > 10 = cell (0,1) → bit (0,0) flips
    val pngBase = patternPng(base, 2)       // 18×16
    val pngBright = patternPng(bright, 2)
    val pngScaled = patternPng(base, 4)     // 36×32: 2× upscale
    val pngRev = patternPng(reversed, 2)
    val pngOne = patternPng(oneOff, 2)

    val hBase = Multimodal.dHash64(pngBase).get
    assert(hBase === -1L) // all comparisons increasing
    assert(Multimodal.dHash64(pngBright).get === hBase)
    assert(Multimodal.dHash64(pngScaled).get === hBase)
    assert(Multimodal.dHash64(pngRev).get === 0L)
    assert(java.lang.Long.bitCount(
      Multimodal.dHash64(pngOne).get ^ hBase) === 1)
    assert(Multimodal.dHash64(Array[Byte](1, 2, 3)) === None)
    // recognized-but-corrupt payload (PNG magic, truncated body):
    // decoder throws — must drop, not propagate
    assert(Multimodal.dHash64(pngBase.take(30)) === None)

    val rows = Seq(
      Row(1L, "image", pngBase, Row(18, 16, null, 0L, "png")),
      Row(2L, "image", pngBright, Row(18, 16, null, 0L, "png")),
      Row(3L, "image", pngScaled, Row(36, 32, null, 0L, "png")),
      Row(4L, "image", pngRev, Row(18, 16, null, 0L, "png")),
      Row(5L, "image", pngOne, Row(18, 16, null, 0L, "png")),
      Row(6L, "audio", pngBase, Row(null, null, 8000, 0L, "wav")),
      Row(7L, "image", Array[Byte](9, 9), Row(null, null, null, 0L, "x")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val hashed = Multimodal.imageDHash(df)
    // non-image (6) and undecodable (7) rows drop in the decode pass
    assert(hashed.count() === 5)
    val pairs = Multimodal.phashNearDup(hashed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(p => (p._1, p._2))
    // {1,2,3} identical; 5 at Hamming 1 from each; 4 nowhere near
    assert(pairs.toSeq === Seq(
      (1L, 2L, 0), (1L, 3L, 0), (1L, 5L, 1),
      (2L, 3L, 0), (2L, 5L, 1), (3L, 5L, 1)))
    // the guarantee bound is enforced, not silently degraded
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDup(hashed, maxDist = 10)
    }
    // clusters: {1,2,3,5} connect (via the Hamming-1 bridge), 4 is a
    // self-labeled singleton — same CC semantics as the text path
    val clusters = Multimodal.phashClusters(hashed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      4L -> 4L))
  }

  test("multimodal: readImages ingests a directory end-to-end into dHash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imgs")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    put("a.png", patternPng(base, 2))
    put("b.png", patternPng(base.map(_.map(_ + 7)), 2)) // near-dup of a
    put("c.PNG", patternPng(base, 4)) // uppercase ext must still ingest
    put("notes.txt", "not an image".getBytes) // filtered by glob
    put("broken.png", Array[Byte](1, 2, 3))   // decode-drops
    val ingested = Multimodal.readImages(spark, dir.toString)
    assert(ingested.count() === 4) // txt never scanned; .PNG included
    assert(ingested.select("modality").distinct().head().getString(0)
      === "image")
    assert(ingested.select("meta.format").distinct().head().getString(0)
      === "png") // format lowercased either way
    // ids deterministic across reads
    val ids1 = ingested.select("id").collect().map(_.getLong(0)).sorted
    val ids2 = Multimodal.readImages(spark, dir.toString)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids1.toSeq === ids2.toSeq && ids1.distinct.length === 4)
    // end-to-end: ingest → decode-hash (broken.png drops) → one cluster
    val hashed = Multimodal.imageDHash(ingested)
    assert(hashed.count() === 3)
    val cl = Multimodal.phashClusters(hashed)
      .select("cluster").distinct().collect()
    assert(cl.length === 1)
  }

  test("multimodal: live image path — readImageStream feeds the phash-dedup sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft_imgstream")
    val sink = java.nio.file.Files
      .createTempDirectory("graft_imgsink").toString + "/images"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_imgckpt").toString
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    put("a.png", patternPng(base, 2))
    put("b.png", patternPng(base.map(_.map(_ + 9)), 2)) // same dHash as a
    val q = Streaming.imageDedupStream(
      Multimodal.readImageStream(spark, dir.toString), sink)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    assert(spark.read.parquet(sink).count() === 1) // brightness twin deduped
    // new files land: a scaled twin (dup vs the SINK), a genuinely new
    // image, a non-image (glob-filtered), a corrupt image (decode-drop)
    put("c.png", patternPng(base, 4))
    put("d.png", patternPng(
      Array.tabulate(8, 9)((y, x) => (8 - x) * 10 + y), 2))
    put("e.txt", "not an image".getBytes)
    put("f.png", Array[Byte](3, 1, 4))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sink)
    assert(rows.count() === 2)
    assert(rows.select("phash").distinct().count() === 2)
    // the sink kept real payload rows (8-byte key + original columns)
    assert(rows.columns.contains("payload") &&
      rows.columns.contains("path"))
  }

  test("multimodal: audio envelope hash is gain-invariant and clusters near-dups") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    // 1 s at 8 kHz whose |amplitude| ramps linearly (constant-sign
    // samples — a sine's per-window mean fluctuates with partial
    // periods and can exceed the ~1.5% ramp step): the 65-window
    // envelope is strictly increasing → all 64 bits set
    def wav(gain: Double, rampUp: Boolean): Array[Byte] = {
      val sr = 8000f; val n = 8000
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val pos = if (rampUp) i else n - 1 - i
        val s = (gain * pos / n * 32767).toInt
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm),
        new AudioFormat(sr, 16, 1, true, false), n.toLong),
        AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val loud = wav(0.8, rampUp = true)
    val quiet = wav(0.4, rampUp = true) // half gain: same comparisons
    val fading = wav(0.8, rampUp = false) // reversed envelope
    val h = Multimodal.audioEnvHash64(loud).get
    assert(h === -1L)
    assert(Multimodal.audioEnvHash64(quiet).get === h)
    assert(Multimodal.audioEnvHash64(fading).get === 0L)
    assert(Multimodal.audioEnvHash64(Array[Byte](1, 2)) === None)
    val rows = Seq(
      Row(1L, "audio", loud, Row(null, null, 8000, 1000L, "wav")),
      Row(2L, "audio", quiet, Row(null, null, 8000, 1000L, "wav")),
      Row(3L, "audio", fading, Row(null, null, 8000, 1000L, "wav")),
      Row(4L, "image", loud, Row(null, null, null, 0L, "png")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.Schema)
    val hashed = Multimodal.audioEnvHash(df)
    assert(hashed.count() === 3) // non-audio row skipped
    // the SAME band join + CC serve audio: {1,2} cluster, 3 singleton
    val clusters = Multimodal.phashClusters(hashed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("compactSink rewrites the append sink without changing content") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val sink = java.nio.file.Files
      .createTempDirectory("graft_compact").toString + "/docs"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    // several appends → several part-file generations
    (1 to 4).foreach { b =>
      input.addData((b * 10L, s"doc $b"), (b * 10L + 1, s"doc $b dup base"))
      q.processAllAvailable()
    }
    def parts() = new java.io.File(sink).listFiles()
      .count(f => f.getName.startsWith("part-"))
    val before = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(parts() > 2)
    Streaming.compactSink(spark, sink, targetFiles = 2)
    assert(parts() <= 2)
    val after = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(after === before)
    // the sink keeps serving the dedup contract after the swap
    input.addData((99L, "doc 1"), (100L, "fresh content"))
    q.processAllAvailable()
    q.stop()
    val fin = spark.read.parquet(sink).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(fin.contains(100L) && !fin.contains(99L)) // dup still caught
    // compacting an empty path is a no-op, not an error
    Streaming.compactSink(spark, sink + "_nothere")
  }

  test("append sink recovers the compaction crash window (orphan temp)") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val sink = java.nio.file.Files
      .createTempDirectory("graft_orphan").toString + "/docs"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.appendDedupedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", sink)
      .start()
    input.addData((1L, "historic doc"))
    q.processAllAvailable()
    // simulate compactSink dying between delete-old and rename: the
    // whole corpus sits in the sibling __tmp (complete, has _SUCCESS)
    // and the sink is gone
    assert(new java.io.File(sink)
      .renameTo(new java.io.File(sink + "__tmp")))
    // the NEXT batch must promote the orphan before its has-data
    // probe — otherwise it bootstraps a fresh sink, strands the
    // history, and re-admits the duplicate
    input.addData((2L, "historic doc"), (3L, "new doc"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSet
    assert(rows === Set((1L, "historic doc"), (3L, "new doc")))
    assert(!new java.io.File(sink + "__tmp").exists())
  }

  test("multimodal: dHash brightness invariance holds on random patterns") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      // random 9×8 pattern, values 0..199; +δ stays within 0..255
      val p = Array.fill(8, 9)(rnd.nextInt(200))
      val delta = 1 + rnd.nextInt(55)
      val block = 1 + rnd.nextInt(3)
      val h = Multimodal.dHash64(patternPng(p, block))
      // uniform brightness shift: every adjacent comparison unchanged
      assert(Multimodal.dHash64(
        patternPng(p.map(_.map(_ + delta)), block)) === h)
      // integer block upscale: pooling recovers the same grid
      assert(Multimodal.dHash64(patternPng(p, block * 2)) === h)
    }
  }

  test("multimodal: visual dedup COMPOSES video frames with stills — " +
    "a reposted keyframe clusters its video with the thumbnail " +
    "(batch) and gates on the live path") {
    def u32le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(cc: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte)
        else Array.empty[Byte]
      cc.getBytes("US-ASCII") ++ u32le(body.length) ++ body ++ pad
    }
    def jpegPattern(pattern: Array[Array[Int]], block: Int)
        : Array[Byte] = {
      val img = new java.awt.image.BufferedImage(9 * block, 8 * block,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8 * block; x <- 0 until 9 * block) {
        val v = pattern(y / block)(x / block)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def avi(frames: Seq[Array[Byte]]): Array[Byte] = {
      val movi = "movi".getBytes("US-ASCII") ++
        frames.flatMap(f => chunk("00dc", f))
      chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi))
    }
    val base = Array.tabulate(8, 9)((y, x) => x * 10 + y)
    val other = Array.tabulate(8, 9)((y, x) => (8 - x) * 10 + y)
    val key = jpegPattern(base, 2)          // the keyframe
    val thumb = jpegPattern(base, 4)        // reposted 2x-rescaled thumb
    val filler = jpegPattern(other, 2)      // second frame, different
    val video = avi(Seq(key, filler))

    // ---- batch: frames UNION stills -> ONE cluster across media ----
    val df = Seq(
      (1L, "video", video),
      (2L, "image", thumb),                 // must cluster with video 1
      (3L, "image", jpegPattern(other.map(_.map(v => v + 12)), 2)))
      .toDF("id", "modality", "payload")
    val cl = Multimodal.visualClusters(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl.keySet === Set(1L, 2L, 3L))
    assert(cl(1L) === cl(2L),
      s"reposted keyframe did not cluster with its video: $cl")
    // id 3 near-dups video 1's SECOND frame (brightness twin of
    // `other`) -> any-frame semantics pull it into the same cluster
    assert(cl(3L) === cl(1L),
      s"second-frame collision missed (any-frame semantics): $cl")
    // a genuinely unrelated still stays alone
    val solo = Array.tabulate(8, 9)((y, x) =>
      if ((x + y) % 2 == 0) 30 else 200)
    val df2 = df.union(Seq((4L, "image", jpegPattern(solo, 2)))
      .toDF("id", "modality", "payload"))
    val cl2 = Multimodal.visualClusters(df2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl2(4L) !== cl2(1L), s"unrelated still joined the cluster: $cl2")

    // ---- live: video keyframe gates against an already-seen still --
    implicit val sqlCtx = spark.sqlContext
    val sink = java.nio.file.Files
      .createTempDirectory("graft_vsink").toString + "/visual"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_vckpt").toString
    val in = MemoryStream[(Long, String, Array[Byte])]
    val q = Streaming.imageDedupStream(
      in.toDF.toDF("id", "modality", "payload"), sink)
      .option("checkpointLocation", ckpt).start()
    in.addData((10L, "image", key)) // the still lands first
    q.processAllAvailable()
    assert(spark.read.parquet(sink).count() === 1)
    // the video reposts the same keyframe -> equality-gated away;
    // a video with a NEW keyframe is kept, with its frame hash
    in.addData((11L, "video", video), (12L, "video", avi(Seq(filler))))
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(sink).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(10L, 12L),
      s"live gate kept ${rows.map(_.getLong(0)).toSeq}")
    // the kept video row carries its keyframe hash in the SAME space
    val vrow = rows.find(_.getLong(0) == 12L).get
    assert(vrow.getAs[Long]("phash") === Multimodal.dHash64(filler).get)
  }
}

