package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-corpus staging: the one place that keys, publishes and
  * revalidates state derived from a corpus snapshot. Reuse is sound
  * only because every artifact and memo entry is keyed to what it was
  * computed from: an in-place corpus rewrite (the engine's own
  * CDC/compaction sinks do this) changes the fingerprint and so misses
  * everything built from the old bytes. */
object Stage {
  private[graft] val Root = "/tmp/graft_staged"

  /** Corpus key: a readable sanitised prefix plus an md5 suffix of the
    * RAW dir. Sanitisation alone is lossy ("/tmp/a/b" and "/tmp/a_b"
    * collide), and colliding keys would serve one corpus's state to
    * another's queries. */
  def key(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString

  /** Cheap corpus fingerprint: md5 over the (name, length, mtime) of
    * every file under `dir/<table>.parquet` — pure filesystem
    * metadata, zero data read, O(#part-files) namenode/listing calls
    * (the same cost class as planning a scan of the corpus). An
    * in-place rewrite by the engine's own CDC/compaction sinks
    * changes lengths/mtimes, so stale state can't survive it; a pure
    * re-read never invalidates. */
  def fingerprint(s: SparkSession, dir: String,
                  table: String = "documents"): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(conf)
    val sb = new StringBuilder
    val it = fs.listFiles(p, true)
    var entries = List.empty[String]
    while (it.hasNext) {
      val st = it.next()
      entries = s"${st.getPath}:${st.getLen}:${st.getModificationTime}" ::
        entries
    }
    entries.sorted.foreach(e => sb.append(e).append('\n'))
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The staged artifact `name` of `dir`'s current `table` snapshot:
    * returns its directory `<Root>/<key>/<name>/<fp>`, running `build`
    * only when no process has published it yet. The fingerprint IS the
    * directory name, so a reader of snapshot X can never see snapshot
    * Y's files, and a fresh JVM reuses a previous process's artifact
    * for an unchanged corpus. See [[publish]] for the protocol. */
  def artifact(s: SparkSession, dir: String, name: String,
               table: String = "documents")(build: String => Unit): String =
    publish(s.sparkContext.hadoopConfiguration, s"$Root/${key(dir)}/$name",
      fingerprint(s, dir, table))(build)

  // one lock per artifact base: serialises in-JVM builders of one
  // artifact while builders of different artifacts may nest
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Ensure `<base>/<fp>` holds a complete artifact and return it.
    *  - An existing `<base>/<fp>` is complete (only a rename publishes
    *    it) and is served as is.
    *  - Otherwise `build` fills a hidden, process-private temp sibling
    *    `<base>/.<fp>.tmp.<pid>`, and one rename publishes it. A build
    *    that throws publishes nothing and leaves no temp dir.
    *  - Hadoop's rename onto an existing directory does not refuse: it
    *    moves the source INSIDE it and returns true. That is a lost
    *    cross-process race (the target appeared with our fingerprint,
    *    hence identical bytes), so the nested copy is removed and the
    *    winner's copy served; any other rename failure throws.
    *  - After a publish, the artifacts of older fingerprints under
    *    `base` are removed; hidden entries (other builders' temp dirs)
    *    are left alone. */
  private[graft] def publish(conf: Configuration, base: String, fp: String)
                            (build: String => Unit): String = {
    val target = new Path(base, fp)
    val fs = target.getFileSystem(conf)
    locks.computeIfAbsent(base, _ => new Object).synchronized {
      if (!fs.exists(target)) {
        val tmp = new Path(base, s".$fp.tmp.${ProcessHandle.current().pid()}")
        fs.delete(tmp, true)
        try build(tmp.toString)
        catch { case e: Throwable => fs.delete(tmp, true); throw e }
        val renamed = fs.rename(tmp, target) && {
          val nested = new Path(target, tmp.getName)
          if (fs.exists(nested)) { fs.delete(nested, true); false }
          else true
        }
        if (!renamed) {
          fs.delete(tmp, true)
          if (!fs.exists(target)) throw new java.io.IOException(
            s"Stage: rename $tmp -> $target failed")
        }
        fs.listStatus(new Path(base)).map(_.getPath)
          .filter(p => p.getName != fp && !p.getName.startsWith("."))
          .foreach(fs.delete(_, true))
      }
    }
    target.toString
  }

  /** In-JVM memo: one entry per (dir, table, extra), held as
    * (applicationId, fingerprint, value) and recomputed when either
    * differs — a value may hold checkpointed frames of the session
    * that built it, and must never outlive the snapshot it was
    * computed from. `build` must not call back into the same Memo
    * (`ConcurrentHashMap.compute` does not recurse), so each product
    * has its own instance. */
  final class Memo[V] {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      (String, String, String), (String, String, V)]()
    def apply(s: SparkSession, dir: String, table: String = "documents",
              extra: String = "")(build: => V): V = {
      val app = s.sparkContext.applicationId
      val fp = fingerprint(s, dir, table)
      m.compute((dir, table, extra), (_, c) =>
        if (c != null && c._1 == app && c._2 == fp) c else (app, fp, build)
      )._3
    }
  }
}
