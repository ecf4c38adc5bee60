package graft

import java.io.{PrintWriter, StringWriter}
import java.nio.file.Paths
import java.util.spi.ToolProvider

import org.scalatest.funsuite.AnyFunSuite

/** Every top-level main class is reachable from an entry point. jdeps,
  * run in-process, lists the class-level references of the main
  * classes; the walk starts at the entry objects and follows the
  * references between main classes. A top-level class counts as
  * reached when any of its classes (companion, nested, anonymous) is.
  * This sees dead files, not dead methods: the main compile's
  * `-Wunused` is the method-level lint. */
class ReachSpec extends AnyFunSuite {

  private val entryPoints = Seq("Bench", "Verify", "Cli", "Stations",
    "Explain", "DataGen", "SparkEntry")

  /** Each main class → the main classes it references. */
  private def classGraph(classes: String): Map[String, Set[String]] = {
    val out = new StringWriter
    val err = new StringWriter
    val rc = ToolProvider.findFirst("jdeps").orElseThrow()
      .run(new PrintWriter(out), new PrintWriter(err),
        "-verbose:class", "-filter:none", classes)
    assert(rc === 0, s"jdeps failed: $err")
    val edges = out.toString.linesIterator.collect {
      case l if l.startsWith(" ") && l.contains("->") =>
        val Array(from, to) = l.split("->", 2)
        from.trim -> to.trim.split("\\s+")(0)
    }.toSeq
    val main = edges.map(_._1).toSet
    edges.groupMap(_._1)(_._2).map { case (c, ds) => c -> ds.filter(main).toSet }
  }

  test("every top-level main class is reachable from an entry point") {
    val classes = Paths.get(
      Cli.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
      .toString
    val graph = classGraph(classes)
    val roots = entryPoints.flatMap(n => Seq(s"graft.$n", s"graft.$n$$"))
    val missing = roots.filterNot(graph.contains)
    assert(missing.isEmpty, s"entry classes not found in $classes: $missing")
    var seen = roots.toSet
    var frontier = roots.toSet
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(graph) -- seen
      seen ++= frontier
    }
    def top(c: String) = c.takeWhile(_ != '$')
    val unreached = graph.keySet.map(top) -- seen.map(top)
    val dead = unreached.toSeq.sorted
    assert(dead.isEmpty, "top-level main classes that no entry " +
      s"point reaches: ${dead.mkString(", ")}")
  }
}
