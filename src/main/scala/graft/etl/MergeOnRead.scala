package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge-on-read latest-state resolution: base snapshot ∪ appended delta
  * batches, resolved per key at read time.
  *
  * This is the 100 TB shape of the reference's "update one status row by
  * key" (`/root/reference/sqoop_table.py:59-66` via DELETE+INSERT): instead
  * of rewriting the table per update, deltas APPEND (cheap, parallel,
  * no read-modify-write), and readers resolve the latest version per key
  * with one window over the key — a shuffle on the key only, no global
  * sort. Tombstones (`op = "d"`) delete at read time. Periodic compaction =
  * write `latest(...)` back as the new base (`sources.Compaction.swapIn`).
  */
object MergeOnRead {

  val UpsertOp = "u"
  val DeleteOp = "d"

  /** Latest visible row per key.
    *
    * @param all     base ∪ deltas, each row carrying `version` and `op`
    *                columns ("u" upsert / "d" delete tombstone)
    * @param keys    key columns
    * @param version monotone per key; (key, version) pairs must be unique —
    *                the caller's batch id / commit timestamp
    */
  def latest(all: DataFrame, keys: Seq[String], version: String,
      op: String = "op"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(version).desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(op) =!= lit(DeleteOp))
      .drop("__rn", op, version)
  }

  /** Time travel: the table state AS OF `asOfVersion` — rows visible after
    * applying only changes with `version <= asOfVersion` (latest-wins,
    * tombstones applied). Same single key-shuffle as [[latest]] over the
    * version-filtered log; no snapshot copies are ever materialized.
    */
  def asOf(all: DataFrame, asOfVersion: Long, keys: Seq[String],
      version: String, op: String = "op"): DataFrame =
    latest(all.filter(col(version) <= lit(asOfVersion)), keys, version, op)

  /** Change feed since a version (the CDC/CDF primitive): for every key
    * touched by a delta with `version > sinceVersion`, the LATEST visible
    * state — `change_op = "u"` with the row, or `change_op = "d"` when the
    * newest change is a tombstone. A downstream consumer applies the feed
    * idempotently (latest-wins by key), so repeated reads from the same
    * cursor are safe. Cost: one key-shuffle over the touched keys' rows,
    * never a diff of two full snapshots.
    */
  def changesSince(all: DataFrame, sinceVersion: Long, keys: Seq[String],
      version: String, op: String = "op"): DataFrame = {
    val touched = all.filter(col(version) > lit(sinceVersion))
      .select(keys.map(col): _*).distinct()
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(version).desc)
    all.join(touched, keys)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("change_op",
        when(col(op) === lit(DeleteOp), lit(DeleteOp)).otherwise(lit(UpsertOp)))
      .drop("__rn", op, version)
  }

  /** Fold a base directory + accumulated delta directory back into a single
    * resolved base (tombstones applied, versions reset to 0, delta dir
    * emptied). The new base is swapped in by `sources.Compaction.swapIn`
    * (readers see old or new; a swap a kill interrupted is finished
    * first), and the deltas are deleted only after it returns — a failed
    * or killed compaction keeps them, and re-folding them onto the new
    * base gives the same rows. Read amplification then restarts from zero.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, basePath: String,
      deltaPath: String, keys: Seq[String], version: String,
      op: String = "op"): Unit = {
    val delta = new org.apache.hadoop.fs.Path(deltaPath)
    val fs = delta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.Compaction.swapIn(spark, basePath) { tmp =>
      val all =
        if (fs.exists(delta) && fs.listStatus(delta).exists(_.isFile))
          spark.read.parquet(basePath).unionByName(spark.read.parquet(deltaPath))
        else spark.read.parquet(basePath)
      latest(all, keys, version, op)
        .withColumn(version, lit(0L)).withColumn(op, lit(UpsertOp))
        .write.parquet(tmp)
    }
    fs.delete(delta, true)
  }
}
