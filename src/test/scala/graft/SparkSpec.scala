package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small data, few partitions). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the session for other suites

  /** Spark jobs `body` launched in the shared session. */
  def jobsDuring(body: => Unit): Int = {
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    body
    spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - before
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}
