package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Ranges, Windows}

/** The UDG outlier filter as a chain of Spark window operators — the
  * declarative reference that `Udg.filter`'s one-pass kernel must
  * equal. Differences by design: the modal interval here is ONE mode
  * over all keys (the kernel infers each key's own), and duplicate
  * timestamps are not checked.
  *
  * P5 quality mask → A2 modal interval (driver scalar) → W3 min-anchored
  * grid + ≤ `ffillLimit` forward fill → W1 trailing `medianDays` median
  * → P6 deviation mask → J5 semi-join back to the original instants. */
object UdgReference {

  def filter(df: DataFrame, udgCol: String, qCol: String, tsCol: String,
             keyCols: Seq[String],
             ffillLimit: Int = 3, medianDays: Double = 2.0,
             tol: Double = 0.5): DataFrame = {
    val masked = df.withColumn(udgCol,
      Ranges.qualityMask(col(udgCol), col(qCol), 150, 210, 150))
    val stepSec = modalIntervalSec(masked, tsCol, keyCols)
    val grid = Windows.resampleGrid(
      masked.select((keyCols :+ tsCol :+ udgCol).map(col): _*),
      tsCol, keyCols, stepSec)
    val filled = Windows.ffillLimited(grid, udgCol, tsCol, keyCols,
      ffillLimit)
    val med = filled.withColumn("__med",
      Windows.rollingTrailing(Windows.med, col(udgCol), col(tsCol),
        keyCols.map(col), medianDays * 86400))
    val kept = med
      .withColumn(udgCol,
        Ranges.deviationMask(col(udgCol), col("__med"), tol))
      .drop("__med")
    // back at the original sample instants only
    val on = keyCols :+ tsCol
    kept.join(df.select(on.map(col): _*).distinct(), on, "left_semi")
  }

  /** The most common positive gap between consecutive timestamps over
    * all keys, in seconds; ties break toward the smaller gap. */
  def modalIntervalSec(df: DataFrame, tsCol: String,
                       partCols: Seq[String]): Long = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(tsCol))
    val gaps = df
      .select((unix_micros(col(tsCol)) -
        lag(unix_micros(col(tsCol)), 1).over(w)).as("__gap"))
      .where(col("__gap").isNotNull)
      .groupBy("__gap").count()
      .orderBy(desc("count"), asc("__gap"))
      .limit(1).collect()
    require(gaps.nonEmpty, "modalIntervalSec: no consecutive-reading gaps")
    val modal = gaps(0).getLong(0)
    require(modal > 0 && modal % 1000000L == 0,
      s"modalIntervalSec: modal gap is $modal µs")
    modal / 1000000L
  }
}
