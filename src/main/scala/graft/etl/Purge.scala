package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Compaction

/** Key purge across a table family — the right-to-be-forgotten mutation at
  * scale. The reference's world deletes by key with SQL DELETE (SURVEY
  * §2.9 M3); on immutable columnar storage the scalable spelling is an
  * anti-join rewrite: stream the table once, drop the condemned keys,
  * swap atomically (`Compaction.swapIn` — readers see the old files or
  * the new files, never a mix, a mid-write failure leaves the original
  * untouched, and the next purge finishes a swap a kill interrupted).
  *
  * The deletion batch is BROADCAST (a request batch is thousands of keys,
  * not billions), so the rewrite is one map-only pass per table — no
  * shuffle at any table size. Cost is proportional to table bytes, which
  * is why real systems batch requests; `purgeAll` amortizes one batch
  * across every table holding the key.
  */
object Purge {

  final case class Stats(table: String, rowsBefore: Long, rowsAfter: Long)

  /** Rewrite one parquet table dropping rows whose `keyCol` ∈ `keys`. */
  def purge(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): Stats = {
    var nBefore = 0L
    Compaction.swapIn(spark, path) { tmp =>
      val before = spark.read.parquet(path)
      nBefore = before.count()
      before.join(
        broadcast(keys.select(col(keys.columns.head).as(keyCol)).distinct()),
        Seq(keyCol), "left_anti").write.parquet(tmp)
    }
    Stats(new Path(path).getName, nBefore, spark.read.parquet(path).count())
  }

  /** One deletion batch across every table holding the key:
    * (path, keyColumnInThatTable) pairs.
    */
  def purgeAll(spark: SparkSession, tables: Seq[(String, String)],
      keys: DataFrame): Seq[Stats] =
    tables.map { case (path, keyCol) => purge(spark, path, keyCol, keys) }
}
