package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}

import graft.sources.{AtomicLog, DriverParquet}

/** One row per (table, partition) backup unit — the reference's
  * `sqoop_etl_status` table (schema inferred from the 8-column insert-select
  * at `/root/reference/sqoop_table.py:143`,`:145`; predicates `:41`,`:107`;
  * update `:62`).
  */
final case class BackupStatus(
    tableName: String,
    hiveDb: String,
    startDate: Timestamp,
    endDate: Option[Timestamp],
    primaryPartitionColumn: String,
    primaryPartitionValue: Long,
    isComplete: Boolean,
    numMappers: Int)

/** Durable job-progress store with the reference's exactly-once semantics
  * (`sqoop_table.py:59-66` relies on one Vertica commit; we have no
  * transactional store, so every write publishes the FULL status set as
  * the next `snapshot-N` of a `graft.sources.AtomicLog` — staged, then
  * one rename — and readers take the newest snapshot).
  *
  * The status set is partition-list sized (thousands of rows at most), so
  * full rewrite per update is cheap at any data scale — the fact data is
  * never touched here. Per-mark delta records would only add a fold, and
  * footer reads on every fresh store (each drain opens one).
  *
  * ALL IO IS DRIVER-SIDE and no store operation schedules a Spark job:
  * the set is a few KB, so a job per read or write would be pure
  * scheduling latency. Each snapshot is one parquet file written by
  * `DriverParquet.writeFile`, which `spark.read.parquet` reads as the
  * same rows. Reads list the log once and serve from an in-memory cache
  * keyed by the newest snapshot's seq (another writer's snapshot has a
  * higher seq, so the listing detects it); a cache miss — the first read
  * of every fresh instance, i.e. once per drain — decodes the snapshot
  * with [[graft.sources.DriverParquet]].
  *
  * Layout under `path`:
  *   snapshot-N        the status set after the N-th write (newest wins;
  *                     the writer keeps the newest two); a parquet file,
  *                     or a dir of them as Spark's writer lays them out
  *   .snapshot-N.tmp   a write staged but not published: never read,
  *                     deleted by the next write
  */
final class StatusStore(spark: SparkSession, path: String) {
  import spark.implicits._

  /** The store's writes are KB-sized metadata mutations: they go through
    * the checksum-off FileSystem (`DriverParquet.metadataFs`), which creates
    * no `.crc` sibling per file.
    */
  private val fs = DriverParquet.metadataFs(
    new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
  private val log = new AtomicLog(fs, new org.apache.hadoop.fs.Path(path))
  private val Snapshot = "snapshot"

  /** Last snapshot read or written by THIS instance: (seq, rows). */
  @volatile private var cache: (Long, IndexedSeq[BackupStatus]) = null

  /** The current status set as a plain driver-side collection — the form
    * every consumer actually wants (the set is partition-list sized by
    * contract). Cache hit: one listing, no other IO. Cache miss (first
    * read, or a snapshot written by another instance): one driver-side
    * decode of the tiny snapshot. The listed snapshot can be GC'd
    * before it is read when another writer writes twice in that window
    * (the newest two are kept): the read then lists again, once.
    */
  def rows(): IndexedSeq[BackupStatus] = {
    def attempt(retry: Boolean): IndexedSeq[BackupStatus] =
      log.list().newest(Snapshot) match {
        case None => IndexedSeq.empty
        case Some(seq) =>
          val c = cache
          if (c != null && c._1 == seq) c._2
          else
            try {
              val loaded = DriverParquet.read(spark.sparkContext.hadoopConfiguration,
                DriverParquet.files(fs, log.path(Snapshot, seq))).map(fromRow)
              cache = (seq, loaded)
              loaded
            } catch {
              case _: java.io.FileNotFoundException if retry => attempt(retry = false)
            }
      }
    attempt(retry = true)
  }

  /** A decoded snapshot row, by column name. Primitive columns must be
    * non-null, as the product encoder of a Spark read requires.
    */
  private def fromRow(r: Row): BackupStatus = {
    def at(c: String) = r.fieldIndex(c)
    BackupStatus(r.getString(at("tableName")), r.getString(at("hiveDb")),
      r.getTimestamp(at("startDate")), Option(r.getTimestamp(at("endDate"))),
      r.getString(at("primaryPartitionColumn")), r.getLong(at("primaryPartitionValue")),
      r.getBoolean(at("isComplete")), r.getInt(at("numMappers")))
  }

  /** Read the current status set EAGERLY (driver-resident, then re-lifted):
    * [[write]] garbage-collects all but the newest two snapshots, so a
    * LAZY dataset held across two writes would fail at execution time on
    * deleted parquet files. The status set is tiny by contract (one row per
    * partition unit), so eager materialization is the same driver-side cost
    * the reference pays for its status query (`sqoop_table.py:41`).
    */
  def read(): Dataset[BackupStatus] = spark.createDataset(rows())

  /** The status row's schema as Spark's product encoder gives it: strings
    * and timestamps nullable, the primitive columns not.
    */
  private val rowSchema = Encoders.product[BackupStatus].schema

  /** Full-set overwrite: `rows` become the next snapshot, published by one
    * rename, so readers see either the old or the new complete set, never a
    * partial write (replays are safe — idempotent like the reference's
    * existence-guarded DDL, `sqoop_etl.py:61-75`). Before publishing, the
    * write deletes staged debris and every snapshot but the current one,
    * which stays as the previous snapshot for a reader that listed just
    * before the publish.
    */
  def writeRows(rows: Seq[BackupStatus]): Unit = {
    val l = log.list()
    val seq = l.newest(Snapshot).fold(0L)(_ + 1)
    log.gc(l)(e => e.kind == Snapshot && e.seq < seq - 1)
    log.publish(Snapshot, seq)(DriverParquet.writeFile(fs, _, rowSchema,
      rows.map(s => Row(s.tableName, s.hiveDb, s.startDate, s.endDate.orNull,
        s.primaryPartitionColumn, s.primaryPartitionValue, s.isComplete, s.numMappers))))
    cache = (seq, rows.toIndexedSeq)
  }

  def write(ds: Dataset[BackupStatus]): Unit =
    writeRows(ds.collect().toIndexedSeq)

  /** M2: `update sqoop_etl_status set is_complete='t', end_date=now() where
    * table=? and pid=?` (`sqoop_table.py:59-66`) as read-modify-write.
    */
  def markComplete(table: String, pid: Long, at: Timestamp): Unit =
    markCompleteAll(table, Set(pid), at)

  /** [[markComplete]] for a SET of units in one snapshot write — the bulk
    * drain marks everything its single job wrote (r12: one full-set rewrite
    * instead of N; on a slow-metadata filesystem each write is ~10 fs
    * mutations, so N-unit bulk loads paid N× that for one job's worth of
    * progress). Only callers whose copy step covers ALL of `pids`
    * atomically may batch the flip — the per-partition loops keep the
    * write-then-mark-per-unit crash contract.
    */
  def markCompleteAll(table: String, pids: Set[Long], at: Timestamp): Unit =
    writeRows(rows().map { s =>
      if (s.tableName == table && pids.contains(s.primaryPartitionValue))
        s.copy(isComplete = true, endDate = Some(at))
      else s
    })

  def append(newRows: Seq[BackupStatus]): Unit =
    writeRows(rows() ++ newRows)

  /** M3: `delete from … where key=?` (`sqoop_table.py:68-73`) as
    * filter-and-rewrite (anti-join semantics on the tiny status set).
    */
  def delete(table: String, pid: Long): Unit =
    writeRows(rows().filterNot(s =>
      s.tableName == table && s.primaryPartitionValue == pid))

  /** P5 predicate: pending units for a table (`sqoop_table.py:41`,`:107`). */
  def pending(table: String): Dataset[BackupStatus] =
    spark.createDataset(rows().filter(s => s.tableName == table && !s.isComplete))
}
