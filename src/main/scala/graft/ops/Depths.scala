package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sensor-burial-depth derivation: static chain depths (C2) and the
  * path-dependent TDR depth recurrence (X1).
  *
  * Reference semantics: `chain_installation_depths` fs_pp.py:427-449 and
  * `_calc_depth_tdr` fs_pp.py:611-644 — the one operator with true
  * sequential state: walking the smoothed surface-height series, a TDR's
  * depth is `min(0, udg + offset)`, and whenever the sensor reaches the
  * surface (`depth == 0`, i.e. melt-out) the offset ratchets to `−udg`.
  * Not expressible as a window function (the offset depends on the whole
  * prior path), so it runs as `repartition(key) + sortWithinPartitions +
  * mapPartitions` — the idiomatic Spark shape for per-key linear state:
  * one shuffle on the sensor key, then a single ordered pass per key,
  * arbitrarily many keys in parallel, O(1) memory per key.
  */
object Depths {

  /** C2 — chain installation depths: sensor positions (mm along the
    * chain) → absolute depths (m), anchored by one reference sensor's
    * known depth. Driver-side over the tiny positions side table. */
  def chainInstallationDepths(positionsMm: Map[Int, Double],
                              refSensor: Int,
                              refDepthM: Double): Map[Int, Double] = {
    val refPos = positionsMm(refSensor)
    positionsMm.map { case (s, p) =>
      s -> (refDepthM - (p - refPos) / 1000.0)
    }
  }

  /** One TDR installation: sensor id, install time, install depth (m,
    * negative = below surface). */
  case class Install(sensor: String, at: java.sql.Timestamp, depthM: Double)

  /** X1 — per-sensor depth recurrence over a smoothed UDG series.
    * `udg` must have (tsCol: timestamp, udgCol: double); each install
    * consumes the series from its install time on. Output:
    * (sensor, ts, depth). Rows with null smoothed UDG are skipped (the
    * reference walks a dense rolling-median series).
    */
  def tdrDepth(udg: DataFrame, tsCol: String, udgCol: String,
               installs: Seq[Install]): DataFrame = {
    // ONE install per sensor — the reference's tdr_info is a dict
    // keyed by sensor, which cannot express a re-install either. Two
    // entries for one sensor would cross-join duplicate (sensor, ts)
    // rows that interleave nondeterministically through the shared
    // per-sensor recurrence state; fail loud instead (model a
    // re-installed sensor as a new sensor name).
    require(installs.map(_.sensor).distinct.length == installs.length,
      "tdrDepth: duplicate sensor in installs — one Install per " +
        "sensor (rename a re-installed sensor)")
    val spark = udg.sparkSession
    import spark.implicits._
    val installDf = broadcast(
      installs.map(i => (i.sensor, i.at, i.depthM))
        .toDF("sensor", "__install_at", "__install_depth"))
    val joined = udg
      .select(to_timestamp(col(tsCol)).as("ts"),
        col(udgCol).cast("double").as("udg"))
      .where(col("udg").isNotNull)
      .crossJoin(installDf)
      .where(col("ts") >= col("__install_at"))
      .select($"sensor", $"ts", $"udg", $"__install_depth")
      .as[(String, java.sql.Timestamp, Double, Double)]
    joined
      .repartition(col("sensor"))
      .sortWithinPartitions("sensor", "ts")
      .mapPartitions { rows =>
        var cur: String = null
        var offset = 0.0
        rows.map { case (sensor, ts, u, installDepth) =>
          if (sensor != cur) { cur = sensor; offset = installDepth - u }
          var d = u + offset
          if (d >= 0.0) { d = 0.0; offset = -u } // melt-out ratchet
          (sensor, ts, d)
        }
      }
      .toDF("sensor", "ts", "depth")
  }
}
