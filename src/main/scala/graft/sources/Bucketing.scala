package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed tables: pre-shuffle data once at write time so repeated joins /
  * aggregations on the bucket key run with NO exchange — the 100 TB answer
  * to "this join happens every day on the same key".
  *
  * The reference approximated this with its `PARTITION BY rowId REORGANIZE`
  * staging table (`/root/reference/sqoop_table.py:79-82`) — a physical
  * re-clustering so the extractor could read aligned slices. `bucketBy` is
  * the principled Spark form: hash-bucketed files + catalog metadata that
  * Catalyst uses to elide shuffles.
  */
object Bucketing {

  /** Write `df` as catalog table `table`, bucketed and sorted on
    * `bucketCol`, with its files at `location` (an external table, not a
    * managed dir under the session's warehouse). An existing table of that
    * name is replaced.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, location: String): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .option("path", location)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Join two same-bucketed tables on the bucket key: plans with zero
    * ShuffleExchange when bucket counts match.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)
}
