package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-equivalent `oracleSql`. The TPC-H-ish
  * driver testdata (TESTDATA.md) stands in for the reference's catalog
  * tables: `orders`/`lineitem` play activities/executions, `events` plays
  * the activity-history stream, `documents`/`embeddings` drive the
  * training-data-pipeline operators.
  *
  * A query is registered once, as a [[graft.queries.QuerySpec]] in the
  * plane file of `graft.queries` it belongs to; `queries` and `oracleSql`
  * are views over those registrations.
  */
object SparkEntry {

  /** Every query, plane by plane (QueryRegistrySpec pins the names unique). */
  val specs: Seq[QuerySpec] =
    CatalogQueries.specs ++ RasterQueries.specs ++ TextQueries.specs ++
      DedupQueries.specs ++ SimilarityQueries.specs ++ MediaQueries.specs ++
      CrawlQueries.specs ++ FrontierQueries.specs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_top_revenue")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** DuckDB-runnable oracle SQL per query; column names/aliases match the
    * Spark side exactly (the driver sorts columns by name before hashing).
    * Doubles are rounded identically on both sides. */
  val oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracleSql.map(q.name -> _)).toMap
}
