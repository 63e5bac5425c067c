package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * The full query surface lives in [[QueryCatalog]], one spec per query in
  * the family objects under `graft/catalog/`; this object is the stable
  * entry point the driver harness invokes.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-style pricing summary: scan → pushed filter → hash aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    QueryCatalog.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = QueryCatalog.queries

  /** For every key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = QueryCatalog.oracleSql
}
