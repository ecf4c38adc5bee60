package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark JVM. It reaches the program only through its entry
  * points: `graft.Cli` for the firn pipeline, and the
  * `SparkEntry.queries` registry under the session `graft.Bench`
  * builds, checked afterwards by `graft.Verify`.
  *
  * {{{
  *   Harness probe   <out.jsonl>
  *   Harness firn    <out.jsonl> <seconds> <warm> <data_root> <out_root> <site,...>
  *   Harness queries <out.jsonl> <seconds> <warm> <corpus> <verify_out> <q,...>
  * }}}
  *
  * A run is one cold pass, then `warm` warm passes of the same
  * operations in the same JVM, and more while fewer than `seconds` have
  * been measured.
  * There is no warm-up: the cold pass pays the JVM's first-execution
  * costs (class loading, JIT, janino) along with building every staged
  * artifact of its fresh inputs; the warm passes pay neither.
  * Every operation becomes an `op` span; the run's spans, and those
  * of the trace listeners when they are registered, are written to
  * `out.jsonl` when the run ends. With `-Dperfbench.kernels=1` the
  * run ends with the kernel microbench. */
object Harness {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Epoch milliseconds with nanosecond resolution. */
  def now(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Times `body` as one operation span of `pass`. */
  private def op(pass: Int, name: String)(body: => Double): Unit = {
    val (c0, n0) = codegen()
    val start = now()
    val (ok, buildEnd) =
      try (true, body)
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        (false, now())
      }
    val end = now()
    val (c1, n1) = codegen()
    TraceStore.add(s"""{"kind":"op","pass":$pass,"name":"$name","ok":$ok,""" +
      f""""start":$start%.3f,"build_end":$buildEnd%.3f,"end":$end%.3f,""" +
      s""""compiles":${c1 - c0},"compile_ns":${n1 - n0}}""")
  }

  /** Pass 0 (cold), then `warm` warm passes, then more warm passes
    * while fewer than `seconds` have been measured in all. */
  private def passes(seconds: Double, warm: Int)(runPass: Int => Unit): Unit = {
    val start = now()
    var pass = 0
    while (pass <= warm || now() - start < seconds * 1000) {
      val ps = now()
      runPass(pass)
      TraceStore.add(f"""{"kind":"pass","pass":$pass,"start":$ps%.3f,"end":${now()}%.3f}""")
      pass += 1
    }
  }

  private def firn(seconds: Double, warm: Int, root: String, outRoot: String,
                   sites: Seq[String]): Unit = {
    TraceStore.add(f"""{"kind":"ready","at":${now()}%.3f}""")
    passes(seconds, warm) { pass =>
      val out = s"$outRoot/p$pass"
      sites.foreach { site =>
        val l1 = s"$out/level-1/$site.csv"
        op(pass, s"l1:$site") {
          graft.Cli.main(Array("l1", site, "-data_root", root, "-outfile", l1))
          now()
        }
        op(pass, s"l2:$site") {
          graft.Cli.main(Array("l2", site, "-data_root", root, "-l1file", l1,
            "-outfile", s"$out/level-2/$site.csv"))
          now()
        }
      }
    }
  }

  /** The SparkConf `graft.Bench` builds its session with: run its entry
    * point over an empty query selection (SPARK_GRAFT_ONLY="") and keep
    * what the context was started with. */
  private def benchConf(): SparkConf = {
    val listeners = sys.props.get("spark.extraListeners")
    System.setProperty("spark.extraListeners", classOf[ConfCapture].getName)
    try graft.Bench.main(Array.empty)
    finally listeners match {
      case Some(v) => System.setProperty("spark.extraListeners", v)
      case None => System.clearProperty("spark.extraListeners")
    }
    val volatile = Set("spark.app.id", "spark.app.startTime",
      "spark.app.submitTime", "spark.driver.port", "spark.executor.id",
      "spark.extraListeners")
    require(ConfCapture.captured.nonEmpty, "graft.Bench built no session")
    new SparkConf(false).setAll(ConfCapture.captured.filterNot(kv => volatile(kv._1)))
  }

  private def queries(seconds: Double, warm: Int, corpus: String,
                      verifyOut: String, names: Seq[String]): Unit = {
    val registry = graft.SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    var builder = SparkSession.builder().config(benchConf())
    Seq("spark.extraListeners", "spark.sql.queryExecutionListeners")
      .foreach(k => sys.props.get(k).foreach(v => builder = builder.config(k, v)))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TraceStore.add(f"""{"kind":"ready","at":${now()}%.3f}""")
    passes(seconds, warm) { pass =>
      names.foreach { n =>
        spark.sparkContext.setJobDescription(n)
        try op(pass, n) {
          val df = registry(n)(spark, corpus)
          val built = now()
          df.write.format("noop").mode("overwrite").save()
          built
        } finally spark.sparkContext.setJobDescription(null)
      }
    }
    TraceStore.add(f"""{"kind":"verify","start":${now()}%.3f}""")
    // Verify reuses the live session and stops it when done
    graft.Verify.main(Array(corpus, verifyOut, names.mkString(",")))
  }

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val out = args(1)
    args(0) match {
      // the set-up of `firn` alone: JVM start to the first workload call
      case "probe" => TraceStore.add(f"""{"kind":"ready","at":${now()}%.3f}""")
      case "firn" => firn(args(2).toDouble, args(3).toInt, args(4), args(5),
        args(6).split(",").toSeq)
      case "queries" => queries(args(2).toDouble, args(3).toInt, args(4),
        args(5), args(6).split(",").toSeq)
      case other => sys.error(s"unknown mode $other")
    }
    TraceStore.add(s"""{"kind":"rss","peak_kb":${peakRssKb()}}""")
    if (sys.props.get("perfbench.kernels").contains("1")) Kernels.run()
    Files.write(Paths.get(out), TraceStore.all.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    // Spark leaves non-daemon threads behind a stopped context
    sys.exit(0)
  }
}
