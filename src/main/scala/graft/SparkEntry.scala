package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query registry: each module under graft.queries contributes
  * (name, query, Option[oracleSql]) triples; queries with an oracle are
  * hash-compared against DuckDB by the driver, the rest get a rows-only
  * check and are pinned by ScalaTest specs instead.
  */
object SparkEntry {

  private def modules: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    CoreQueries.all ++ TableQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ VectorQueries.all ++ EventsQueries.all ++
      MultimodalQueries.all ++ PipelineQueries.all ++
      FunctionQueries.all ++ SamplingQueries.all

  /** Local worker threads for the mains (`local[N]`, and their shuffle
    * partitions): `SPARK_GRAFT_CPUS`, else this host's core count. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map { case (n, q, _) => n -> q }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
