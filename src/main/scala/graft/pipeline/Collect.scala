package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** A pipeline product brought to the driver, where its sinks write it. */
object Collect {

  /** `df`'s rows on the driver, in `df`'s order, as Catalyst rows, from
    * one SQL execution (so the frame's `Observation`s complete). The
    * driver-side sinks write from this one copy, as the reference
    * exports each product from one in-memory frame; a product over
    * `spark.driver.maxResultSize` fails in Spark's own check. */
  def rows(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }
}
