package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan and its DuckDB oracle side by
  * side. `run(spark, dir)` builds the query over the parquet tables in
  * `dir`; `oracle` is the SQL twin the driver runs in DuckDB over the
  * same tables. Column names and aliases match between the two (the
  * driver sorts columns by name before hashing), and floating
  * aggregates are rounded identically on both sides so cross-engine
  * summation order cannot flip the hash. */
final case class Query(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracle: String)

object Query {

  /** Every query, family by family (one file each in this package).
    * Lazy because the family objects build their entries through this
    * companion's `apply`: a strict val would read a family's `all`
    * while that family is still initialising. */
  lazy val all: Seq[Query] =
    RelationalQueries.all ++ DedupQueries.all ++ AnnQueries.all ++
      TokenizerQueries.all ++ MixingQueries.all ++ ReleaseQueries.all

  /** `entries` keyed by name; the names must be unique. */
  def byName(entries: Seq[Query]): Map[String, Query] = {
    val dups = entries.groupBy(_.name).collect {
      case (n, qs) if qs.lengthCompare(1) > 0 => n
    }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    entries.map(q => q.name -> q).toMap
  }
}
