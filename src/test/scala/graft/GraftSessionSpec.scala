package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.InternalRow

import graft.plans.{OrderedKernel, RangeJoinRewrite, RowKernel}

/** Passes its rows through unchanged. */
private object PassThrough extends RowKernel {
  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = rows
}

/** `GraftSession` is the one place a session is configured: every
  * entry point and the specs get the same settings and the engine's
  * extensions, and a caller's session outlives `run`. */
class GraftSessionSpec extends SparkSpec {

  test("only GraftSession builds a session or sets the nanos flag") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"no $main under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(main).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala"))
    def naming(needle: String): Set[String] = files
      .filter(f => Files.readString(f).contains(needle))
      .map(_.getFileName.toString).toSet
    assert(naming("SparkSession.builder") === Set("GraftSession.scala"))
    assert(naming("nanosAsLong") === Set("GraftSession.scala"))
  }

  test("run reuses the live session, installs the optimizer rule once " +
    "and does not stop a session it did not start") {
    val live = spark // the specs' session, started before run is called
    GraftSession.run(s => assert(s eq live))
    GraftSession.run(s => assert(s eq live))
    assert(!live.sparkContext.isStopped)
    assert(spark.experimental.extraOptimizations
      .count(_ == RangeJoinRewrite) === 1)
  }

  test("the engine's SQL functions resolve with no register call") {
    val d = spark.sql(
      "SELECT graft_vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(d === 11.0)
  }

  test("the session carries the engine's config") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") ===
      s"${1024 * 1024}")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("OrderedKernel plans in a session GraftSession did not build") {
    // a new session shares the context but not the extensions
    val other = spark.newSession()
    assert(other.experimental.extraStrategies.isEmpty)
    val out = OrderedKernel(other.range(5).toDF("x"), PassThrough,
      keys = Nil, orderBy = Seq("x"))
    assert(out.collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }
}
