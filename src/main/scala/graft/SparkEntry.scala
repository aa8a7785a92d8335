package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, ExtraQueries, QueryDef, RefQueries, SqlQueries}

/** Driver contract — see SURVEY.md §7 at the repository root.
  *
  * Every implemented operator from SURVEY §2 surfaces here as a named query
  * with (when SQL-expressible) a DuckDB oracle over the same parquet tables.
  */
object SparkEntry {

  private def registry: Seq[QueryDef] =
    RefQueries.all ++ RefQueries.starTables ++ SqlQueries.all ++
      ExtraQueries.all ++ AnalyticsQueries.all ++
      graft.llm.LlmQueries.all ++ graft.llm.CorpusQueries.all ++
      graft.etl.EtlQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_top5_products_daytype")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
