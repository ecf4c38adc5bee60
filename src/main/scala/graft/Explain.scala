package graft
import java.nio.file.{Files, Paths}
/** Plan audit: dump .explain("formatted") of every SparkEntry query so
  * pushdown / broadcast / codegen coverage can be reviewed offline. */
object Explain {
  def main(args: Array[String]): Unit = GraftSession.run { spark =>
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
  }
}
