package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog / DDL / filesystem surface mapping the reference's metadata
  * operators (SURVEY §2.1 S3–S6, S11; §2.9 M6–M7) onto `spark.catalog` and
  * the Hadoop FileSystem API — replacing the `v_catalog` SQL and `dfs -rmr`
  * shell-outs (`/root/reference/sqoop_table.py:31-37`, `:114-120`, `:132`,
  * `sqoop_pyhive.py:107-112`, `:114-119`).
  */
object CatalogOps {

  /** S3/S6: table existence probe (replaces `v_catalog.tables` /
    * `SHOW TABLES LIKE`).
    */
  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** S4: column list (replaces `v_catalog.columns`). */
  def columns(df: DataFrame): Seq[String] = df.schema.fieldNames.toSeq

  /** S5: full DDL body (replaces `export_objects`). */
  def ddl(df: DataFrame): String = df.schema.toDDL

  /** M6: DROP TABLE IF EXISTS. */
  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `$name`")

  /** M7: external table over existing files (the reference's three
    * CREATE EXTERNAL TABLE variants collapse to one catalog call).
    */
  def createExternalTable(spark: SparkSession, name: String, path: String,
      format: String): DataFrame =
    spark.catalog.createTable(name, path, format)

  /** S11: recursive path cleanup (replaces `dfs -rmr -skipTrash`). */
  def dropFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}

/** X1: per-table job lock — atomic create-if-absent of a lock file, the
  * Spark-side analogue of the reference's `JobLock.getLock/releaseLock`
  * (`/root/reference/sqoop_etl.py:29`,`:92`,`:104`).
  * A table's one lock is its drain lock, which `graft.etl.IncrementalBackup`
  * takes in every writer.
  */
final class JobLock(spark: SparkSession, path: String) {
  private val p = new org.apache.hadoop.fs.Path(path)
  private val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff this caller acquired the lock (atomic create, no overwrite). */
  def acquire(): Boolean =
    try { fs.create(p, false).close(); true }
    catch { case _: java.io.IOException => false }

  def release(): Unit = fs.delete(p, false)
}
