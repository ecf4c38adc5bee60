package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Specs share one session, built by `GraftSession` with the engine's
  * own config and extensions. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the session for other suites

  /** Spark jobs `body` launched in the shared session. */
  def jobsDuring(body: => Unit): Int = {
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    body
    spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
  }

  /** Spark jobs `body` launched in the shared session, and how many of
    * their stages read files (hold a `FileScanRDD`). Waits until the
    * listener bus has delivered every one of those jobs' end. */
  def jobsAndScanStagesDuring(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerStageCompleted}
    val scanStages = new java.util.concurrent.atomic.AtomicInteger()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanStages.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).toSet
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      val jobs = tracker.getJobIdsForGroup(null).toSet -- before
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.forall(ended.contains) && System.nanoTime() < deadline)
        Thread.sleep(20)
      (jobs.size, scanStages.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A frame over rows collected on the driver (`Collect.rows`,
    * `Level1.product`), so specs can query them. */
  def frameOf(schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(toRow(_).asInstanceOf[Row]): _*),
      schema)
  }

  /** Runs `body` on a new temp corpus directory named after `prefix`,
    * then deletes the directory and what the engine staged for it under
    * the staging and release roots (both keyed by `Stage.key`). */
  def withTempCorpus[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir)
    finally (dir +: Seq(Stage.Root, "/tmp/graft_release")
      .map(root => s"$root/${Stage.key(dir)}"))
      .foreach(d => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(d)))
  }
}

object SparkSpec {
  // the warehouse dir is the one test-only setting: specs that save
  // tables must not write into the working directory
  lazy val session: SparkSession = GraftSession.getOrCreate(Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}
