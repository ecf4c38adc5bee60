package graft

import java.io.File
import java.nio.file.Files

/** `Stage`'s publish protocol driven with explicit fingerprints: a
  * `<base>/<fp>` dir is only ever published whole, by one rename, and
  * never serves another snapshot's files. */
class StageSpec extends SparkSpec {
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
}
