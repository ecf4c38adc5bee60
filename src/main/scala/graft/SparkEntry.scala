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

  /** The queries that the comma-separated `names` select, or all of
    * them without a list. An unknown name fails, prefixed with `what`:
    * a typo'd filter must not silently run nothing. */
  def select(names: Option[String], what: String)
      : Map[String, (SparkSession, String) => DataFrame] =
    names.fold(queries) { list =>
      val wanted = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = wanted -- queries.keySet
      require(unknown.isEmpty,
        s"$what: unknown queries ${unknown.mkString(", ")}")
      queries.filter { case (n, _) => wanted(n) }
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A pricing-summary aggregate: scan → filter → groupBy, the shape the
    * whole engine is built around. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
}
