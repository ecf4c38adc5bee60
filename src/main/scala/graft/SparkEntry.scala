package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Query

/** Driver contract: every query of the registry (`graft.queries.Query`)
  * by name, and its DuckDB oracle by the same name. Both views are
  * built once, from the same entries. */
object SparkEntry {

  private val registry: Map[String, Query] = Query.byName(Query.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A pricing-summary aggregate: scan → filter → groupBy, the shape the
    * whole engine is built around. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
}
