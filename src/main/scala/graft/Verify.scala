package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus every registered query's oracle in oracle_sql.json, for the
  * driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver always runs the full set), checked
    // before the session starts
    val selected = SparkEntry.select(args.lift(2), "Verify")
    GraftSession.run(dump(_, sfDir, outDir, selected))
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String,
                   selected: Map[String, (SparkSession, String) => DataFrame])
      : Unit = {
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.queries.Query.all
      .map(e => s"${q(e.name)}: ${q(e.oracle)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
