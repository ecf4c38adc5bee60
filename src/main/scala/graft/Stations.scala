package graft

/** A station network in one JVM: `graft.Cli l1` and then `l2` for each
  * named site, at `Cli`'s default paths under `-data_root`, as the
  * reference is run with `fs_process_l1.py` and then `fs_process_l2.py`
  * for every station. The calls share the JVM's session
  * (`GraftSession.run`), so the network pays one SparkContext start and
  * every call after the first reuses the generated classes of the
  * calls before it.
  *
  * {{{
  *   runMain graft.Stations -data_root /data [-ow] fs1 fs2 ...
  * }}}
  *
  * `-data_root` and `-ow` mean what they mean to `Cli`. The first
  * failing call ends the run.
  */
object Stations {

  private def usage(): Nothing = {
    System.err.println(
      """usage: graft.Stations [-data_root <dir>] [-ow] <site>...
        |  -data_root <dir>   root of the data tree (default: cwd)
        |  -ow                force overwrite of existing outputs""".stripMargin)
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    var root = new java.io.File(".").getCanonicalPath
    var force = Seq.empty[String]
    val sites = Seq.newBuilder[String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "-data_root" if i + 1 < argv.length => root = argv(i + 1); i += 1
        case "-ow" => force = Seq("-ow")
        case flag if flag.startsWith("-") =>
          System.err.println(s"unknown option or missing value: $flag"); usage()
        case site => sites += site
      }
      i += 1
    }
    val all = sites.result()
    if (all.isEmpty) usage()
    all.foreach { site =>
      Seq("l1", "l2").foreach { level =>
        Cli.main((Seq(level, site, "-data_root", root) ++ force).toArray)
      }
    }
  }
}
