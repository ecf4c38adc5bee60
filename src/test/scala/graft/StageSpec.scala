package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.TimestampType

/** `Stage`'s publish protocol driven with explicit fingerprints: a
  * `<base>/<fp>` dir is only ever published whole, by one rename, and
  * never serves another snapshot's files. Then the fingerprint's value
  * and the parquet schema catalog behind every table read. */
class StageSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration

  private def newBase(): String =
    Files.createTempDirectory("graft-stage-spec").toString + "/artifact"

  private def writeMarker(dir: String, text: String): Unit = {
    Files.createDirectories(new File(dir).toPath)
    Files.writeString(new File(dir, "marker.txt").toPath, text)
  }

  private def marker(dir: String): String =
    Files.readString(new File(dir, "marker.txt").toPath)

  /** Every entry under `base`, hidden ones included. */
  private def entries(base: String): Set[String] =
    Option(new File(base).list()).getOrElse(Array.empty).toSet

  test("a request for fingerprint A never serves B's files, and a " +
    "publish removes older snapshots") {
    val base = newBase()
    val b = Stage.publish(conf, base, "B")(writeMarker(_, "B"))
    assert(marker(b) === "B")
    val a = Stage.publish(conf, base, "A")(writeMarker(_, "A"))
    assert(a === s"$base/A")
    assert(marker(a) === "A")
    assert(entries(base) === Set("A"), "B's snapshot outlived A's publish")
    // asking for B again rebuilds B; A is not served in its place
    var built = 0
    val b2 = Stage.publish(conf, base, "B") { tmp =>
      built += 1; writeMarker(tmp, "B") }
    assert(built === 1)
    assert(b2 === s"$base/B" && marker(b2) === "B")
  }

  test("a lost race serves the winner's copy: one clean directory, no " +
    "nested temp dir, no leftover .tmp") {
    val base = newBase()
    val out = Stage.publish(conf, base, "A") { tmp =>
      writeMarker(tmp, "loser")
      // a competing builder publishes a complete copy first
      writeMarker(s"$base/A", "winner")
    }
    assert(out === s"$base/A")
    assert(marker(out) === "winner")
    assert(entries(out) === Set("marker.txt"),
      s"the losing build nested inside the winner: ${entries(out)}")
    assert(entries(base) === Set("A"), s"leftovers: ${entries(base)}")
  }

  test("a build that throws publishes nothing and leaves no temp dir") {
    val base = newBase()
    val e = intercept[IllegalStateException] {
      Stage.publish(conf, base, "A") { tmp =>
        writeMarker(tmp, "partial")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    assert(!new File(base, "A").exists())
    assert(entries(base).isEmpty, s"leftovers: ${entries(base)}")
  }

  test("a second call with an unchanged fingerprint does not build") {
    val base = newBase()
    var built = 0
    def stage() = Stage.publish(conf, base, "A") { tmp =>
      built += 1; writeMarker(tmp, "A") }
    val first = stage()
    val mtime = new File(first, "marker.txt").lastModified()
    assert(stage() === first)
    assert(built === 1)
    assert(new File(first, "marker.txt").lastModified() === mtime)
  }

  /** The fingerprint formula artifacts were first staged under: a
    * recursive `listFiles`. The listing-only walk must keep its value,
    * or every artifact already staged would be rebuilt. */
  private def listFilesFingerprint(dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val it = p.getFileSystem(conf).listFiles(p, true)
    var entries = List.empty[String]
    while (it.hasNext) {
      val st = it.next()
      entries = s"${st.getPath}:${st.getLen}:${st.getModificationTime}" ::
        entries
    }
    val sb = new StringBuilder
    entries.sorted.foreach(e => sb.append(e).append('\n'))
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("the fingerprint keeps the recursive listFiles value: partition " +
    "subdirectories, checksum files, _SUCCESS and a single-file table") {
    withTempCorpus("graft-stage-fp") { dir =>
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("doc_id", "text", "k")
        .write.partitionBy("k").parquet(s"$dir/documents.parquet")
      Files.writeString(new File(s"$dir/documents.parquet/.hidden").toPath,
        "x")
      val top = entries(s"$dir/documents.parquet")
      val sub = entries(s"$dir/documents.parquet/k=1")
      assert(top.contains("_SUCCESS") && top.contains("._SUCCESS.crc") &&
        top.contains("k=1") && top.contains("k=2"), s"fixture: $top")
      assert(sub.exists(_.endsWith(".parquet.crc")), s"fixture: $sub")
      assert(Stage.fingerprint(spark, dir) ===
        listFilesFingerprint(dir, "documents"))
      // a table stored as one file, as the generated testdata ships events
      val single = new File(s"$dir/events.parquet")
      new File(s"$dir/documents.parquet/k=1").listFiles()
        .find(_.getName.endsWith(".parquet")).foreach(f =>
          Files.copy(f.toPath, single.toPath))
      assert(single.isFile)
      assert(Stage.fingerprint(spark, dir, "events") ===
        listFilesFingerprint(dir, "events"))
    }
  }

  /** Spark jobs that `body` started, counted from `SparkListenerJobStart`
    * events. One listener queue delivers in order, so once a sentinel
    * job run after `body` has been seen, every job of `body` has. */
  private def jobStartsDuring(body: => Unit): Int = {
    val sentinel = "stage-spec-sentinel"
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      def next() = starts.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      var seen = 0
      var d = next()
      while (d != null && d != sentinel) { seen += 1; d = next() }
      assert(d === sentinel, "the sentinel job's start never arrived")
      seen
    } finally sc.removeSparkListener(listener)
  }

  test("the second read of a table in a session starts no Spark job, " +
    "and reads the same rows") {
    withTempCorpus("graft-stage-catalog") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      var first, second: org.apache.spark.sql.DataFrame = null
      assert(jobStartsDuring {
        first = queries.Shared.T(spark, dir, "documents") } >= 1,
        "the first read infers the schema")
      assert(jobStartsDuring {
        second = queries.Shared.T(spark, dir, "documents") } === 0,
        "the second read of an unchanged table must reuse its schema")
      assert(second.schema === first.schema)
      assert(second.as[(Long, String)].collect().sorted ===
        Array((1L, "a"), (2L, "b")))
    }
  }

  test("a table rewritten in place with an added column reads with " +
    "its new schema in the same session") {
    withTempCorpus("graft-stage-rewrite") { dir =>
      val path = s"$dir/documents.parquet"
      Seq((1L, "a")).toDF("doc_id", "text").write.parquet(path)
      assert(queries.Shared.T(spark, dir, "documents").columns ===
        Array("doc_id", "text"))
      Thread.sleep(1100) // fs mtime granularity for the fingerprint
      Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(path)
      val after = queries.Shared.T(spark, dir, "documents")
      assert(after.columns === Array("doc_id", "text", "lang"))
      assert(after.as[(Long, String, String)].collect() ===
        Array((1L, "a", "en")))
    }
  }

  test("events read as TimestampType in both ts layouts, on the first " +
    "read and through the catalog") {
    val at = java.time.Instant.parse("2021-03-04T05:06:07.123456Z")
    def check(dir: String): Unit = (1 to 2).foreach { _ =>
      val ev = queries.Shared.T(spark, dir, "events")
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.select("ts").as[java.time.Instant].collect() === Array(at))
    }
    // timestamp[us] without UTC adjustment: Spark reads TIMESTAMP_NTZ
    withTempCorpus("graft-stage-ntz") { dir =>
      spark.sql("SELECT 1L AS event_id, " +
        "TIMESTAMP_NTZ'2021-03-04 05:06:07.123456' AS ts")
        .write.parquet(s"$dir/events.parquet")
      check(dir)
    }
    // timestamp[ns]: written with parquet-mr, as Spark cannot write it
    withTempCorpus("graft-stage-ns") { dir =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.hadoop.util.HadoopOutputFile
      val schema = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType("message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,false)); }")
      val file = new org.apache.hadoop.fs.Path(
        s"$dir/events.parquet/part-0.parquet")
      val w = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(file, conf))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L)
        .append("ts", at.getEpochSecond * 1000000000L + at.getNano + 789))
      finally w.close()
      check(dir)
    }
  }
}
