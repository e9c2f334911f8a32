package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.CrawlConfig
import graft.functions.gf
import graft.synth.{PageSynth, SynthConfig}
import graft.frontier.Crawler
import graft.queries.Registry

/**
 * Driver contract (SURVEY.md §7): one `queries` entry per implemented
 * operator from SURVEY.md §2 plus the training-data-pipeline operators;
 * `oracleSql` gives the DuckDB-equivalent SQL for every SQL-expressible
 * one (column names/aliases match the Spark output exactly — the driver
 * sorts columns by name and hashes values). Both are views of
 * [[graft.queries.Registry]], where each query's build and oracle sit in
 * one entry of its family's registry under `graft/queries/`.
 */
object SparkEntry {

  /** Flagship: a full multi-round crawl over the synthetic Common-Crawl-style
    * corpus — frontier scoring, salted politeness rank, fetch join, link
    * discovery, Bloom+exact URL-seen dedup (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    gf.register(spark)
    val cfg = SynthConfig(nPages = 300L, nHosts = 5)
    val r = Crawler.crawl(spark,
      PageSynth.pages(spark, cfg).toDF(),
      PageSynth.robots(spark, cfg).toDF(),
      PageSynth.seeds(cfg).toDF("url"),
      CrawlConfig(perHostBudget = 20, saltBuckets = 4, bloomBuckets = 8),
      maxRounds = 3)
    r.order.orderBy("round", "host", "hostRank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { case (n, q) => n -> q.build }

  val oracleSql: Map[String, String] =
    Registry.all.map { case (n, q) => n -> q.oracle }
}
