package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation: salted two-phase aggregation.
  *
  * At 100 TB a handful of hot keys (one station with 100× the sensors,
  * one boilerplate document hash) make a single hash-aggregate shuffle
  * partition the straggler. Salting splits each key into `salt` synthetic
  * sub-keys for the first (partial) aggregation, then a second, tiny
  * aggregation over `salt` rows per key removes the salt. Works for any
  * algebraic aggregate expressible as (partial, merge) — sums/counts
  * here; AQE's skew-join handling covers the join side, this covers
  * group-by.
  *
  * Note: at local test scale this is pure overhead; it exists for the
  * cluster path and is exercised by spec, not by the bench queries.
  */
object Skew {

  /** Salted sum/count aggregation: equivalent to
    * `df.groupBy(keys).agg(sum(valueCol), count(*))` but with the heavy
    * shuffle spread over `salt` sub-partitions per key. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     salt: Int = 16): DataFrame = {
    val k = keys.map(col)
    val partial = df
      .withColumn("__salt", pmod(spark_partition_id()
        + monotonically_increasing_id(), lit(salt)))
      .groupBy((k :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial.groupBy(k: _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"),
        sum(col("__pcnt")).as("n"))
  }
}
