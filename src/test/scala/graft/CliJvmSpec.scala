package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerApplicationStart}

/** Records the id of every application started in this JVM; registered
  * through `spark.extraListeners`. */
class CliJvmAppIds extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    e.appId.foreach(CliJvmAppIds.ids.add)
}

object CliJvmAppIds {
  val ids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Runs `Stations` twice over station fs9 of the tree at `args(0)`,
  * the second time with `-ow`, in this JVM, and returns from `main`
  * without `sys.exit`. After each run it prints
  * `pair <n> apps=<applications started so far> compiles=<count>` and
  * copies the products to `args(1)/pair<n>`.
  *
  * {{{
  *   java -cp <test classpath> graft.CliJvmCalls <root> <snapshots>
  * }}}
  */
object CliJvmCalls {
  def main(args: Array[String]): Unit = {
    val Array(root, snaps) = args
    System.setProperty("spark.extraListeners", classOf[CliJvmAppIds].getName)
    val l2 = Cli.l2DefaultPath(root, "fs9")
    Seq(Nil, Seq("-ow")).zipWithIndex.foreach { case (force, pair) =>
      Stations.main((Seq("-data_root", root) ++ force :+ "fs9").toArray)
      // the start event reaches the listener on the bus's thread
      val deadline = System.nanoTime() + 10000000000L
      while (CliJvmAppIds.ids.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      println(s"pair $pair apps=${CliJvmAppIds.ids.size} " +
        s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount}")
      val dir = Files.createDirectories(Paths.get(snaps, s"pair$pair"))
      Seq(CliFixture.partFile(Cli.l1DefaultPath(root, "fs9")) -> "l1.csv",
        CliFixture.partFile(l2) -> "l2.csv",
        Paths.get(l2.stripSuffix(".csv") + ".nc") -> "l2.nc")
        .foreach { case (f, name) => Files.copy(f, dir.resolve(name)) }
    }
  }
}

/** The JVM contract of `Cli` calls, as `Stations` makes them: calls in
  * one JVM share one session, so later calls start no SparkContext and
  * compile no generated class, and the JVM still exits by itself once
  * `main` returns. Pinned in a child JVM, because the specs' own
  * session is already live. */
class CliJvmSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** The child's JVM options: the `--add-opens` flags this JVM was
    * started with (build.sbt's `javaOptions`), a small heap, UTC. */
  private def jvmOptions: Seq[String] = {
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = in.zip(in.drop(1) :+ "").flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", v) => Seq("--add-opens", v)
      case _ => Nil
    }
    assert(opens.nonEmpty, s"no --add-opens among $in")
    opens ++ Seq("-Xmx1g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false")
  }

  test("l1 + l2 twice in one JVM: one application, no recompiles, the " +
    "same products, and the JVM exits by itself") {
    val root = CliFixture.siteTree()
    val snaps = Files.createTempDirectory("clijvm")
    try {
      val log = snaps.resolve("child.log")
      val java = Paths.get(System.getProperty("java.home"), "bin", "java")
      val pb = new ProcessBuilder((Seq(java.toString) ++ jvmOptions ++ Seq(
        s"-Djava.io.tmpdir=${Files.createDirectories(snaps.resolve("tmp"))}",
        "-cp", System.getProperty("java.class.path"),
        "graft.CliJvmCalls", root.toString, snaps.toString)).asJava)
        .redirectErrorStream(true).redirectOutput(log.toFile)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      pb.environment().put("SPARK_LOCAL_DIRS", snaps.resolve("local").toString)
      val child = pb.start()
      val exited = child.waitFor(240, TimeUnit.SECONDS)
      if (!exited) child.destroyForcibly().waitFor()
      val out = Files.readAllLines(log).asScala.toSeq
      def tail = out.takeRight(40).mkString("\n")
      assert(exited, s"the child JVM did not exit within 240 s:\n$tail")
      assert(child.exitValue() === 0, tail)

      val Pair = """pair (\d) apps=(\d+) compiles=(\d+)""".r
      val pairs = out.collect { case Pair(i, apps, n) =>
        (i.toInt, apps.toInt, n.toLong) }
      assert(pairs.map(_._1) === Seq(0, 1), tail)
      assert(pairs.map(_._2) === Seq(1, 1),
        "the calls started more than one application")
      assert(pairs(1)._3 - pairs(0)._3 === 0,
        "the second l1 + l2 compiled generated classes again")

      def bytes(p: Path) = Files.readAllBytes(p).toSeq
      Seq("l1.csv", "l2.csv", "l2.nc").foreach { f =>
        assert(bytes(snaps.resolve(s"pair1/$f")) ===
          bytes(snaps.resolve(s"pair0/$f")), s"$f differs between the pairs")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(snaps.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }
}
