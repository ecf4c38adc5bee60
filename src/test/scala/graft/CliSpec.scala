package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The operational wrappers: default reference layout, the -ow
  * overwrite guard, and the L1-CSV → L2 read-back seam (the one part
  * of the CLI path no other spec exercises — Level2 everywhere else
  * consumes the in-memory L1 plan, not the round-tripped CSV). */
class CliSpec extends SparkSpec {

  import CliFixture.{partFile, siteTree}

  /** The queries `body` ran in the shared session (one per SQL
    * execution), the jobs they ran and how many of those jobs' stages
    * read files. */
  private def queriesDuring(body: => Unit)
      : (Seq[org.apache.spark.sql.execution.QueryExecution], Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.util.QueryExecutionListener
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val starts = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
        case _ => ()
      }
    }
    val ends = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        done.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        done.add(qe)
    }
    spark.sparkContext.addSparkListener(starts)
    spark.listenerManager.register(ends)
    try {
      // the starts precede their jobs on the listener bus, which
      // jobsAndScanStagesDuring drains up to the last job's end
      val (jobs, scans) = jobsAndScanStagesDuring(body)
      val deadline = System.nanoTime() + 30000000000L
      while (done.size < started.get && System.nanoTime() < deadline)
        Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      (done.asScala.toSeq, jobs, scans)
    } finally {
      spark.listenerManager.unregister(ends)
      spark.sparkContext.removeSparkListener(starts)
    }
  }

  test("l1 + l2 over the default layout; guard refuses, -ow forces") {
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    val l1Path = Cli.l1DefaultPath(root, "fs9")
    val l1 = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(l1Path)
    assert(l1.count() === 96)

    // the reference's IOError semantics: existing product + no -ow
    val e = intercept[java.io.IOException] {
      Cli.main(Array("l1", "fs9", "-data_root", root))
    }
    assert(e.getMessage.contains("-ow"))
    // forced overwrite succeeds and leaves the same row count
    Cli.main(Array("l1", "fs9", "-data_root", root, "-ow"))
    assert(spark.read.option("header", "true").csv(l1Path).count() === 96)

    Cli.main(Array("l2", "fs9", "-data_root", root))
    val l2Csv = Cli.l2DefaultPath(root, "fs9")
    val l2 = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(l2Csv)
    assert(l2.count() === 96)
    assert(l2.columns.contains("TCDT(m)") && l2.columns.contains("t_air(C)"))
    // the derived .nc exists and re-reads through the spec reader
    val nc = l2Csv.stripSuffix(".csv") + ".nc"
    assert(Files.exists(java.nio.file.Paths.get(nc)))
    // L2 values survived the CSV round-trip: normalised UDG ≈ 0.005
    val udg = l2.agg(avg(col("TCDT(m)").cast("double"))).head().getDouble(0)
    assert(math.abs(udg - 0.005) < 1e-6)
    // l2 guard trips on the NetCDF too, not just the CSV
    val e2 = intercept[java.io.IOException] {
      Cli.main(Array("l2", "fs9", "-data_root", root))
    }
    assert(e2.getMessage.contains("-ow"))
  }

  test("l2 runs the Level-2 plan once for both sinks and releases it") {
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    // start from an empty cache so the checks below see only Cli's
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (queries, jobs, _) = queriesDuring {
      Cli.main(Array("l2", "fs9", "-data_root", root))
    }
    // ONE Level-2 execution, collected once; neither sink runs a job.
    // 1 on this fixture: the Level-1 CSV is one partition, so the plan
    // has no exchange. A cache fill with a CSV write job and a NetCDF
    // collect from the cache ran 4; the window-chain UDG filter with
    // its join back and final dedup ran 13.
    assert(queries.size === 1, s"Cli l2 ran ${queries.size} queries")
    assert(jobs <= 1, s"Cli l2 ran $jobs jobs")
    assert(spark.sharedState.cacheManager.isEmpty,
      "Cli l2 left its Level-2 frame in the cache manager")
    assert(spark.sparkContext.getPersistentRDDs.keySet === rddsBefore,
      "Cli l2 left persisted blocks behind")

    // both sinks carry the same rows: the .nc time dimension and the
    // UDG series equal the CSV's, value for value, in time order
    val l2Csv = Cli.l2DefaultPath(root, "fs9")
    val csv = spark.read.option("header", "true").csv(l2Csv)
      .select(col("TIMESTAMP").cast("timestamp"),
        col("`TCDT(m)`").cast("double"))
      .orderBy("TIMESTAMP").collect()
    val nc = NcReader.read(l2Csv.stripSuffix(".csv") + ".nc")
    assert(nc.dims === Seq(("TIMESTAMP", csv.length)))
    val byName = nc.vars.map(v => v.name -> v).toMap
    assert(nc.data(byName("TIMESTAMP")).toSeq ===
      csv.map(_.getTimestamp(0).getTime / 1000.0).toSeq)
    val udg = nc.data(byName("TCDT(m)"))
    csv.zipWithIndex.foreach { case (r, i) =>
      if (r.isNullAt(1)) assert(udg(i).isNaN, s"row $i")
      else assert(udg(i) === r.getDouble(1), s"row $i")
    }
  }

  test("l1 reads the bales in one scan stage, runs no window and " +
    "releases its cache") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val root = siteTree().toString
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (queries, jobs, scanStages) = queriesDuring {
      Cli.main(Array("l1", "fs9", "-data_root", root))
    }
    // 3 on this fixture: the broadcast file-order map, the exchange's
    // map stage and the kernel's collect. The pass into a cache, with
    // its count and a CSV write job from the cache, ran 5; a
    // null-column aggregate before a window dedup ran 8.
    assert(queries.size === 1, s"Cli l1 ran ${queries.size} queries")
    assert(jobs <= 3, s"Cli l1 ran $jobs jobs")
    assert(scanStages === 1, "the bales must be read by one stage")
    assert(spark.sharedState.cacheManager.isEmpty,
      "Cli l1 left its Level-1 frame in the cache manager")
    assert(spark.sparkContext.getPersistentRDDs.keySet === rddsBefore,
      "Cli l1 left persisted blocks behind")

    // the plan of the one query Cli l1 collected
    val plans = new AdaptiveSparkPlanHelper {}
    val plan = queries.head.executedPlan
    assert(plans.collect(plan) { case w: WindowExec => w }.isEmpty,
      plan.toString)
    assert(plans.collect(plan) { case s: InMemoryTableScanExec => s }
      .isEmpty, plan.toString)
  }

  test("the Level-2 plan sorts once, below its UDG kernel, and shuffles " +
    "nothing") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.plans.OrderedKernelExec
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    val site = graft.pipeline.Site.fromToml(spark,
      s"$root/firn_stations/ppconfig/fs9.toml", root)
    val plan = Cli.level2Frame(spark, site, Cli.l1DefaultPath(root, "fs9"))
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    def hasKernel(p: SparkPlan): Boolean =
      p.exists(_.isInstanceOf[OrderedKernelExec])
    assert(hasKernel(plan), plan.toString)
    assert(plan.collect { case s: SortExec if hasKernel(s) => s }.isEmpty,
      plan.toString)
    assert(plan.collect { case s: SortExec => s }.size === 1, plan.toString)
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      plan.toString)
  }

  test("the Level-2 plan scans Level-1 once, with no window and no " +
    "join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    val site = graft.pipeline.Site.fromToml(spark,
      s"$root/firn_stations/ppconfig/fs9.toml", root)
    val plan = Cli.level2Frame(spark, site, Cli.l1DefaultPath(root, "fs9"))
      .queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1, plan.toString)
    assert(scans.head.relation.location.rootPaths.map(_.getName) ===
      Seq("fs9.csv"))
    val banned = plan.collect {
      case w: WindowExec => w
      case j: SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(banned.isEmpty, plan.toString)
  }

  test("l1 and l2 write through the FileSystem of a file: URI outfile") {
    val root = siteTree().toString
    val dir = Files.createTempDirectory("cliuri")
    val l1 = s"file://$dir/l1/fs9.csv"
    val l2 = s"file://$dir/l2/fs9.csv"
    Cli.main(Array("l1", "fs9", "-data_root", root, "-outfile", l1))
    Cli.main(Array("l2", "fs9", "-data_root", root, "-l1file", l1,
      "-outfile", l2))
    Seq("l1", "l2").foreach { p =>
      assert(Files.exists(partFile(s"$dir/$p/fs9.csv")), p)
      assert(Files.exists(dir.resolve(s"$p/fs9.csv/_SUCCESS")), p)
    }
    assert(NcReader.read(s"$dir/l2/fs9.nc").dims === Seq(("TIMESTAMP", 96)))
    // the guard resolves the same FileSystem for the NetCDF
    org.apache.commons.io.FileUtils.deleteDirectory(
      dir.resolve("l2/fs9.csv").toFile)
    val e = intercept[java.io.IOException] {
      Cli.main(Array("l2", "fs9", "-data_root", root, "-l1file", l1,
        "-outfile", l2))
    }
    assert(e.getMessage.contains("NetCDF"), e.getMessage)
  }

  /** Level-2 over a hand-made Level-1 CSV built from `lines` (header
    * first); returns the Level-2 CSV's lines. */
  private def l2Of(root: String, name: String, lines: Seq[String]): Seq[String] = {
    val dir = Files.createTempDirectory("clidup")
    val l1 = dir.resolve(s"$name.csv")
    Files.write(l1, lines.mkString("\n").getBytes("UTF-8"))
    val out = dir.resolve("l2/fs9.csv").toString
    Cli.main(Array("l2", "fs9", "-data_root", root,
      "-l1file", l1.toString, "-outfile", out))
    new String(Files.readAllBytes(partFile(out)), "UTF-8").split("\n").toSeq
  }

  test("l2 emits full-row duplicates once and fails on distinct rows " +
    "sharing a timestamp") {
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    val lines = new String(Files.readAllBytes(
      partFile(Cli.l1DefaultPath(root, "fs9"))), "UTF-8").split("\n").toSeq
    // every 10th data row twice, one of them three times
    val dups = lines.head +: lines.tail.zipWithIndex.flatMap {
      case (l, i) => Seq.fill(if (i == 40) 3 else if (i % 10 == 0) 2 else 1)(l)
    }
    assert(dups.length > lines.length)
    assert(l2Of(root, "dups", dups) === l2Of(root, "unique", lines))

    // the same instant twice with different readings
    val ts = lines(5).takeWhile(_ != ',')
    val other = lines(5).split(",", -1)
      .updated(lines.head.split(",").indexOf("T107_C"), "-9.5").mkString(",")
    val e = intercept[Exception] {
      l2Of(root, "clash", lines.patch(6, Seq(other), 0))
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("distinct rows share one timestamp"), msgs)
    assert(msgs.contains(ts.take(10)), msgs)
  }

  test("l2 reads the Level-1 CSV back with Level-1's own schema") {
    val dir = Files.createTempDirectory("clil1")
    val l1 = dir.resolve("l1.csv")
    Files.write(l1, Seq(
      "TIMESTAMP,RECORD,Q,TCDT,Spare",
      "2021-04-30T00:00:00.000Z,1,170,2.065,",
      "2021-04-30T00:15:00.000Z,2,171,abc,").mkString("\n").getBytes("UTF-8"))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val df = Cli.loadL1(spark, l1.toString, "TIMESTAMP")
      assert(df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq
        === Seq("TIMESTAMP" -> "timestamp", "RECORD" -> "long",
          "Q" -> "double", "TCDT" -> "double", "Spare" -> "double"))
      val rows = df.orderBy("RECORD").collect()
      assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L))
      assert(rows.map(_.getDouble(2)).toSeq === Seq(170.0, 171.0))
      // a non-numeric cell is null, its row intact
      assert(rows(0).getDouble(3) === 2.065 && rows(1).isNullAt(3))
      // an all-empty column is null doubles (inferSchema: strings)
      assert(rows.forall(_.isNullAt(4)))
      assert(rows(1).getTimestamp(0) ===
        java.sql.Timestamp.valueOf("2021-04-30 00:15:00"))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)

    // end to end: an all-empty Level-1 column reaches the NetCDF as a
    // NaN variable instead of being dropped as a string column
    val root = siteTree().toString
    Cli.main(Array("l1", "fs9", "-data_root", root))
    val lines = new String(Files.readAllBytes(
      partFile(Cli.l1DefaultPath(root, "fs9"))), "UTF-8").split("\n")
    val withSpare = dir.resolve("spare.csv")
    Files.write(withSpare, (s"${lines.head},Spare" +: lines.tail.map(_ + ","))
      .mkString("\n").getBytes("UTF-8"))
    val out = dir.resolve("l2/fs9.csv").toString
    Cli.main(Array("l2", "fs9", "-data_root", root,
      "-l1file", withSpare.toString, "-outfile", out))
    val nc = NcReader.read(out.stripSuffix(".csv") + ".nc")
    val spare = nc.vars.find(_.name == "Spare")
    assert(spare.isDefined, s"no Spare variable in ${nc.vars.map(_.name)}")
    assert(nc.data(spare.get).forall(_.isNaN))
  }

  test("calls that share the session carry no state from one to the " +
    "next") {
    CliFixture.withTempDir("clishared") { dir =>
      val root = CliFixture.station(dir, "fsa")
      CliFixture.station(root, "fsb", extra = Seq("HS", "T_box"))
      val dataRoot = root.toString
      spark.catalog.clearCache()
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      /** One call; returns what it printed, after checking that it left
        * nothing cached. */
      def call(args: String*): String = {
        val out = new java.io.ByteArrayOutputStream()
        Console.withOut(out)(Cli.main(args.toArray))
        assert(spark.sharedState.cacheManager.isEmpty,
          s"${args.mkString(" ")} left a frame in the cache manager")
        assert(spark.sparkContext.getPersistentRDDs.keySet === rddsBefore,
          s"${args.mkString(" ")} left persisted blocks behind")
        out.toString("UTF-8")
      }
      /** l1 then l2 for `site`; returns the printed row counts and the
        * bytes of the L1 CSV, the L2 CSV and the NetCDF. */
      def station(site: String, ow: Boolean): (String, Seq[Seq[Byte]]) = {
        val force = if (ow) Seq("-ow") else Nil
        val printed = call(Seq("l1", site, "-data_root", dataRoot) ++ force: _*)
        call(Seq("l2", site, "-data_root", dataRoot) ++ force: _*)
        val l2 = Cli.l2DefaultPath(dataRoot, site)
        val files = Seq(partFile(Cli.l1DefaultPath(dataRoot, site)),
          partFile(l2), java.nio.file.Paths.get(l2.stripSuffix(".csv") + ".nc"))
        (printed.linesIterator.filter(_.contains("level-1 rows")).mkString,
          files.map(f => Files.readAllBytes(f).toSeq))
      }
      val (rowsA, first) = station("fsa", ow = false)
      val (_, b) = station("fsb", ow = false)
      val (rowsA2, again) = station("fsa", ow = true)
      assert(rowsA === "[cli] level-1 rows: 96 ingested, 96 after the " +
        "keep-first dedup")
      // the per-call Observations report this call's rows, not a sum
      assert(rowsA2 === rowsA)
      Seq("L1 CSV", "L2 CSV", "NetCDF").zipWithIndex.foreach { case (p, i) =>
        assert(again(i) === first(i), s"station A's $p changed")
      }
      // station B's extra columns reached its products, not A's
      val header = (bytes: Seq[Byte]) =>
        new String(bytes.toArray, "UTF-8").linesIterator.next()
      assert(header(b(1)).contains("HS") && !header(first(1)).contains("HS"))
    }
  }

  test("Stations runs l1 then l2 for every site, writing what separate " +
    "Cli calls write") {
    CliFixture.withTempDir("stations") { dir =>
      val root = CliFixture.station(dir, "fsa")
      CliFixture.station(root, "fsb", extra = Seq("HS"))
      val dataRoot = root.toString
      Stations.main(Array("-data_root", dataRoot, "fsa", "fsb"))
      Seq("fsa", "fsb").foreach { site =>
        val l1 = root.resolve(s"alone/$site/l1.csv").toString
        val l2 = root.resolve(s"alone/$site/l2.csv").toString
        Cli.main(Array("l1", site, "-data_root", dataRoot, "-outfile", l1))
        Cli.main(Array("l2", site, "-data_root", dataRoot, "-l1file", l1,
          "-outfile", l2))
        val atDefault = Cli.l2DefaultPath(dataRoot, site)
        Seq(partFile(Cli.l1DefaultPath(dataRoot, site)) -> partFile(l1),
          partFile(atDefault) -> partFile(l2),
          java.nio.file.Paths.get(atDefault.stripSuffix(".csv") + ".nc") ->
            java.nio.file.Paths.get(l2.stripSuffix(".csv") + ".nc"))
          .foreach { case (got, want) =>
            assert(Files.readAllBytes(got).toSeq ===
              Files.readAllBytes(want).toSeq, s"$got differs from $want")
          }
      }
      // Cli's guard holds for every call; -ow reaches every call
      intercept[java.io.IOException] {
        Stations.main(Array("-data_root", dataRoot, "fsb"))
      }
      Stations.main(Array("-data_root", dataRoot, "-ow", "fsa", "fsb"))
    }
  }
}
