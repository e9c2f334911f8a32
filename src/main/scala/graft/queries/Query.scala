package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark build over a scale directory and the
  * DuckDB-equivalent SQL the driver compares it with (column names and
  * aliases match the Spark output exactly — the driver sorts columns by
  * name and hashes values). */
final case class Query(build: (SparkSession, String) => DataFrame, oracle: String)

/** Every family's queries merged; a name registered twice fails here. */
object Registry {

  private val families: Seq[Map[String, Query]] = Seq(
    RelationalQueries.queries, CrawlQueries.queries, SourceQueries.queries,
    ExtractQueries.queries, DedupQueries.queries, TextQueries.queries,
    LmQueries.queries, AnnQueries.queries, GraphQueries.queries,
    MonitorQueries.queries)

  val all: Map[String, Query] = {
    val names = families.flatMap(_.keys)
    val dup = names.diff(names.distinct)
    require(dup.isEmpty, s"query registered in two families: ${dup.mkString(", ")}")
    families.reduce(_ ++ _)
  }
}
