package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** S11 — TFRecord sink/scan for packed training shards.
  *
  * TFRecord is the de-facto interchange format for LLM training
  * shards; both the framing and the `tf.train.Example` payload are
  * small public specifications, so the writer is dependency-free:
  *
  *  - Framing (TensorFlow "TFRecords format details"): per record,
  *    `uint64 length (LE) · uint32 masked-crc32c(length bytes) ·
  *    data · uint32 masked-crc32c(data)`, where
  *    `mask(crc) = ((crc >>> 15) | (crc << 17)) + 0xa282ead8`.
  *    CRC32C (Castagnoli) ships in the JDK (`java.util.zip.CRC32C`).
  *  - Payload: a hand-rolled protobuf `tf.train.Example`
  *    (`Example{ Features{ map<string, Feature> } }`, Feature oneof
  *    BytesList=1 / FloatList=2 / Int64List=3; int64/float lists are
  *    packed, bytes values length-delimited — the proto2 wire format
  *    is public and stable).
  *
  * Scale shape: one task writes one shard file sequentially (records
  * within a shard are order-sensitive training artifacts — exactly
  * t67's shard model, sized by the hex-prefix width so a shard fits a
  * task), shards write in parallel through the Hadoop FileSystem of
  * the output URI (HDFS/object storage/local alike). The reader maps
  * one task per shard file (binaryFile source), verifies both CRCs
  * per record, and never trusts a corrupt length header (a bad frame
  * quarantines the file's tail, loudly, instead of running away).
  */
object TfRecord {

  /** Ships the driver's Hadoop configuration into executor closures.
    * A bare `new Configuration()` on an executor would drop every
    * `spark.hadoop.*` session override (object-store credentials,
    * fs impls, endpoints); `Configuration` itself is not
    * `Serializable`, so the wrapper round-trips it through its own
    * writable form. */
  private final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  // ---- CRC32C framing ------------------------------------------------

  private val MaskDelta = 0xa282ead8

  def crc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  def maskedCrc(bytes: Array[Byte], off: Int, len: Int): Int = {
    val crc = crc32c(bytes, off, len)
    ((crc >>> 15) | (crc << 17)) + MaskDelta
  }

  private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte
    b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte
    b(off + 3) = (v >>> 24).toByte
  }

  private def getIntLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def getLongLE(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    v
  }

  /** One framed record: length, masked crc of the length bytes, data,
    * masked crc of the data. */
  def frame(data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](8 + 4 + data.length + 4)
    var n = data.length.toLong
    var i = 0
    while (i < 8) { out(i) = (n & 0xff).toByte; n >>>= 8; i += 1 }
    putIntLE(out, 8, maskedCrc(out, 0, 8))
    System.arraycopy(data, 0, out, 12, data.length)
    putIntLE(out, 12 + data.length, maskedCrc(data, 0, data.length))
    out
  }

  // ---- protobuf tf.train.Example --------------------------------------

  private final class ProtoOut {
    private val buf = new java.io.ByteArrayOutputStream()
    def bytes: Array[Byte] = buf.toByteArray
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) {
        buf.write(((v & 0x7f) | 0x80).toInt); v >>>= 7
      }
      buf.write(v.toInt)
    }
    def tag(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def lenDelim(field: Int, data: Array[Byte]): Unit = {
      tag(field, 2); varint(data.length.toLong); buf.write(data)
    }
  }

  /** Feature values: exactly one list per feature (the proto oneof). */
  sealed trait FeatureVal
  final case class BytesVal(vs: Seq[Array[Byte]]) extends FeatureVal
  final case class FloatVal(vs: Seq[Float]) extends FeatureVal
  final case class Int64Val(vs: Seq[Long]) extends FeatureVal

  private def encodeFeature(v: FeatureVal): Array[Byte] = {
    val inner = new ProtoOut // the list message
    v match {
      case BytesVal(vs) => vs.foreach(b => inner.lenDelim(1, b))
      case FloatVal(vs) =>
        val packed = new Array[Byte](4 * vs.length)
        vs.zipWithIndex.foreach { case (f, i) =>
          putIntLE(packed, 4 * i, java.lang.Float.floatToIntBits(f))
        }
        if (vs.nonEmpty) inner.lenDelim(1, packed)
      case Int64Val(vs) =>
        val packed = new ProtoOut
        vs.foreach(packed.varint)
        if (vs.nonEmpty) inner.lenDelim(1, packed.bytes)
    }
    val feat = new ProtoOut // Feature{ oneof kind }
    val field = v match {
      case _: BytesVal => 1; case _: FloatVal => 2; case _: Int64Val => 3
    }
    feat.lenDelim(field, inner.bytes)
    feat.bytes
  }

  /** Serialize one `tf.train.Example`. Features encode in sorted-name
    * order so the byte stream is deterministic (maps carry no order). */
  def encodeExample(features: Seq[(String, FeatureVal)]): Array[Byte] = {
    val fs = new ProtoOut // Features{ map<string, Feature> }
    features.sortBy(_._1).foreach { case (name, v) =>
      val entry = new ProtoOut // map entry { key=1, value=2 }
      entry.lenDelim(1, name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      entry.lenDelim(2, encodeFeature(v))
      fs.lenDelim(1, entry.bytes)
    }
    val ex = new ProtoOut // Example{ features=1 }
    ex.lenDelim(1, fs.bytes)
    ex.bytes
  }

  // ---- proto decode (reader side) --------------------------------------

  private final class ProtoIn(b: Array[Byte], var pos: Int, val end: Int) {
    def hasNext: Boolean = pos < end
    def varint(): Long = {
      var v = 0L; var shift = 0
      var more = true
      while (more) {
        require(pos < end && shift < 64, "malformed varint")
        val x = b(pos); pos += 1
        v |= (x & 0x7fL) << shift; shift += 7
        more = (x & 0x80) != 0
      }
      v
    }
    def slice(len: Int): ProtoIn = {
      require(len >= 0 && pos + len <= end, "malformed length")
      val s = new ProtoIn(b, pos, pos + len); pos += len; s
    }
    def raw(len: Int): Array[Byte] = {
      require(len >= 0 && pos + len <= end, "malformed length")
      val out = java.util.Arrays.copyOfRange(b, pos, pos + len)
      pos += len; out
    }
    /** Skip a field of the given wire type (unknown-field tolerance). */
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(); ()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; require(n >= 0 && pos + n <= end); pos += n
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  /** Decode one Example into name → feature value. Unknown fields skip. */
  def decodeExample(data: Array[Byte]): Map[String, FeatureVal] = {
    val ex = new ProtoIn(data, 0, data.length)
    var out = Map.empty[String, FeatureVal]
    while (ex.hasNext) {
      val t = ex.varint(); val (f, w) = ((t >> 3).toInt, (t & 7).toInt)
      if (f == 1 && w == 2) { // Features
        val fs = ex.slice(ex.varint().toInt)
        while (fs.hasNext) {
          val t2 = fs.varint()
          if ((t2 >> 3).toInt == 1 && (t2 & 7).toInt == 2) { // map entry
            val e = fs.slice(fs.varint().toInt)
            var key = ""; var v: FeatureVal = Int64Val(Nil)
            while (e.hasNext) {
              val t3 = e.varint()
              ((t3 >> 3).toInt, (t3 & 7).toInt) match {
                case (1, 2) => key = new String(e.raw(e.varint().toInt),
                  java.nio.charset.StandardCharsets.UTF_8)
                case (2, 2) => v = decodeFeature(e.slice(e.varint().toInt))
                case (_, w3) => e.skip(w3)
              }
            }
            out += key -> v
          } else fs.skip((t2 & 7).toInt)
        }
      } else ex.skip(w)
    }
    out
  }

  private def decodeFeature(in: ProtoIn): FeatureVal = {
    var v: FeatureVal = Int64Val(Nil)
    while (in.hasNext) {
      val t = in.varint(); val (f, w) = ((t >> 3).toInt, (t & 7).toInt)
      (f, w) match {
        case (1, 2) => // BytesList
          val bl = in.slice(in.varint().toInt)
          val vs = Seq.newBuilder[Array[Byte]]
          while (bl.hasNext) {
            val tb = bl.varint()
            if ((tb >> 3).toInt == 1 && (tb & 7).toInt == 2)
              vs += bl.raw(bl.varint().toInt)
            else bl.skip((tb & 7).toInt)
          }
          v = BytesVal(vs.result())
        case (2, 2) => // FloatList (packed or repeated)
          val fl = in.slice(in.varint().toInt)
          val vs = Seq.newBuilder[Float]
          while (fl.hasNext) {
            val tf = fl.varint()
            ((tf >> 3).toInt, (tf & 7).toInt) match {
              case (1, 2) =>
                val packed = fl.slice(fl.varint().toInt)
                while (packed.hasNext) {
                  val raw = packed.raw(4)
                  vs += java.lang.Float.intBitsToFloat(getIntLE(raw, 0))
                }
              case (1, 5) =>
                val raw = fl.raw(4)
                vs += java.lang.Float.intBitsToFloat(getIntLE(raw, 0))
              case (_, wf) => fl.skip(wf)
            }
          }
          v = FloatVal(vs.result())
        case (3, 2) => // Int64List (packed or repeated)
          val il = in.slice(in.varint().toInt)
          val vs = Seq.newBuilder[Long]
          while (il.hasNext) {
            val ti = il.varint()
            ((ti >> 3).toInt, (ti & 7).toInt) match {
              case (1, 2) =>
                val packed = il.slice(il.varint().toInt)
                while (packed.hasNext) vs += packed.varint()
              case (1, 0) => vs += il.varint()
              case (_, wi) => il.skip(wi)
            }
          }
          v = Int64Val(vs.result())
        case (_, wx) => in.skip(wx)
      }
    }
    v
  }

  // ---- distributed write / read ----------------------------------------

  /** Write one TFRecord file per shard. Input columns: `shardCol`
    * (string shard name → file `<shard>.tfrecord`), `orderCol` (record
    * order within the shard — training shards are order-sensitive
    * artifacts), `int64Cols` (long or array<long> → Int64List),
    * `bytesCols` (string/binary → single-value BytesList) and
    * `floatCols` (float/double or array thereof → FloatList — the
    * embedding-shard export path; doubles narrow to float32, the
    * format's only float width). Returns the manifest:
    * (shard, n_records, n_bytes) — one row per shard, the t121
    * release-artifact convention. Each shard writes sequentially
    * in ONE task (repartition by shard + sortWithinPartitions), so
    * callers size shards exactly like t67's hex-width math.
    *
    * Commit protocol: the overwrite contract is handled ONCE on the
    * driver — every `*.tfrecord` (and stale temp litter) under
    * `outDir` is cleared before the job launches, so a previous
    * call's survivor set can never leak into this export's read
    * glob. Each task then streams its shard to an attempt-unique
    * temp name (`.<shard>.tfrecord.<taskAttemptId>.tmp`) and renames
    * to the final name only after the shard's last byte is written —
    * a speculative or zombie duplicate of the task can never
    * interleave bytes into the final file, and no attempt ever
    * DELETES a committed shard (an attempt killed between a delete
    * and its own rename would leave the shard silently missing).
    * Shard bytes are deterministic (sorted input, deterministic
    * encoding), so when two attempts race the loser's rename fails
    * against the winner's committed file, and it discards its
    * byte-identical temp. The manifest is materialized eagerly (one
    * bounded row per shard collected to the driver) so the
    * side-effecting write runs exactly once per call, not once per
    * downstream action. */
  def write(df: DataFrame, outDir: String, shardCol: String,
            orderCol: String, int64Cols: Seq[String],
            bytesCols: Seq[String],
            floatCols: Seq[String] = Nil,
            clearStale: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cols = (Seq(shardCol, orderCol) ++ int64Cols ++ bytesCols ++
      floatCols).distinct
    val prepared = df.select(cols.map(col): _*)
      .repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(orderCol))
    val (i64, byt, flt) = (int64Cols, bytesCols, floatCols)
    // Driver-side overwrite: clear committed shards and stale temp
    // litter BEFORE the job, so no task attempt ever needs to delete
    // a final file (see the commit-protocol note above).
    // `clearStale = false` is the streaming-batch contract: each
    // microbatch APPENDS its own batch-suffixed shard names into a
    // shared dir, and a batch replay overwrites only its OWN names
    // (rename onto the identical committed bytes).
    val outPath = new Path(outDir)
    val driverFs =
      outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (clearStale && driverFs.exists(outPath)) {
      (Option(driverFs.globStatus(new Path(outDir, "*.tfrecord"))) ++
        Option(driverFs.globStatus(new Path(outDir, ".*.tfrecord.*.tmp"))))
        .flatten
        .foreach(st => driverFs.delete(st.getPath, false))
    }
    val serConf =
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val manifest = prepared.mapPartitions { rows =>
      val conf = serConf.value
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      var shard: String = null
      var outStream: java.io.OutputStream = null
      var n = 0L; var bytes = 0L
      val acc = Seq.newBuilder[(String, Long, Long)]
      def tmpPath(s: String) = new Path(outDir, s".$s.tfrecord.$attempt.tmp")
      def close(): Unit = if (outStream != null) {
        outStream.close()
        val tmp = tmpPath(shard)
        val dst = new Path(outDir, shard + ".tfrecord")
        val fs = dst.getFileSystem(conf)
        // Rename FIRST, never delete dst here: the driver cleared
        // stale shards before the job, so the only way dst already
        // exists is a racing attempt of THIS task committing first —
        // and its bytes are identical (sorted input, deterministic
        // encoding), so the loser just discards its temp. A zombie
        // attempt killed at ANY point therefore leaves either the
        // winner's committed file or nothing, never a missing shard.
        if (!fs.rename(tmp, dst)) {
          if (fs.exists(dst)) fs.delete(tmp, false)
          else throw new java.io.IOException(s"rename $tmp -> $dst failed")
        }
        acc += ((shard, n, bytes))
        outStream = null; shard = null; n = 0; bytes = 0
      }
      rows.foreach { r =>
        val s = r.getAs[String](shardCol)
        require(s != null && s.nonEmpty && !s.contains("/"),
          s"shard name must be a non-empty path segment, got '$s'")
        if (s != shard) { // sorted input → each shard is contiguous
          close()
          shard = s
          val p = tmpPath(s)
          outStream = p.getFileSystem(conf).create(p, true)
        }
        val feats = Seq.newBuilder[(String, FeatureVal)]
        i64.foreach { c =>
          feats += c -> (r.get(r.fieldIndex(c)) match {
            case null => Int64Val(Nil)
            case v: Long => Int64Val(Seq(v))
            case v: Int => Int64Val(Seq(v.toLong))
            case v: scala.collection.Seq[_] => Int64Val(v.map {
              case n: java.lang.Number => n.longValue() // long OR int arrays
            }.toSeq)
          })
        }
        byt.foreach { c =>
          feats += c -> (r.get(r.fieldIndex(c)) match {
            case null => BytesVal(Nil)
            case v: String => BytesVal(Seq(
              v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            case v: Array[Byte] => BytesVal(Seq(v))
          })
        }
        flt.foreach { c =>
          feats += c -> (r.get(r.fieldIndex(c)) match {
            case null => FloatVal(Nil)
            case v: Float => FloatVal(Seq(v))
            case v: Double => FloatVal(Seq(v.toFloat))
            case v: scala.collection.Seq[_] => FloatVal(v.map {
              case f: Float => f
              case d: Double => d.toFloat
              case i: java.lang.Number => i.floatValue()
            }.toSeq)
          })
        }
        val rec = frame(encodeExample(feats.result()))
        outStream.write(rec)
        n += 1; bytes += rec.length
      }
      close()
      acc.result().iterator
    }
    // Materialize eagerly: one bounded row per shard (export-sized,
    // like the t121 manifest), so re-evaluating the returned frame can
    // never silently re-run the side-effecting shard write.
    manifest.collect().toSeq.toDF("shard", "n_records", "n_bytes")
  }

  /** Scan a TFRecord directory: one task per shard file, both CRCs
    * verified per record. Emits (shard, rec_index, data, crc_ok);
    * a corrupt frame yields one `crc_ok = false` row for the frame
    * and quarantines the file's remaining tail (a corrupt length
    * header cannot be trusted to delimit anything after it). */
  def read(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // An EMPTY export (every record gated away upstream — e.g. a
    // fully eval-contaminated corpus slice) is a legitimate artifact:
    // return the empty frame with the reader's schema instead of
    // letting the glob throw PATH_NOT_FOUND on a dir with no shards.
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val any = fs.exists(p) &&
      Option(fs.globStatus(new Path(dir, "*.tfrecord")))
        .exists(_.nonEmpty)
    if (!any)
      return Seq.empty[(String, Long, Array[Byte], Boolean)]
        .toDF("shard", "rec_index", "data", "crc_ok")
    spark.read.format("binaryFile").load(s"$dir/*.tfrecord")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        val shard = path.split("/").last.stripSuffix(".tfrecord")
        val out = Seq.newBuilder[(String, Long, Array[Byte], Boolean)]
        var pos = 0; var idx = 0L; var ok = true
        while (ok && pos + 12 <= content.length) {
          val len = getLongLE(content, pos)
          val lenOk = maskedCrc(content, pos, 8) == getIntLE(content, pos + 8)
          if (!lenOk || len < 0 || len > content.length - pos - 16) {
            out += ((shard, idx, Array.emptyByteArray, false))
            ok = false // tail quarantined: length can't be trusted
          } else {
            val n = len.toInt
            val data = java.util.Arrays.copyOfRange(
              content, pos + 12, pos + 12 + n)
            val dataOk =
              maskedCrc(data, 0, n) == getIntLE(content, pos + 12 + n)
            out += ((shard, idx, data, dataOk))
            pos += 16 + n; idx += 1
          }
        }
        if (ok && pos != content.length) // trailing garbage < header size
          out += ((shard, idx, Array.emptyByteArray, false))
        out.result()
      }.toDF("shard", "rec_index", "data", "crc_ok")
  }
}
