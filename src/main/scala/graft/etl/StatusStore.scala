package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}

import graft.sources.DriverParquet

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
  * (`sqoop_table.py:59-66` relies on Vertica commits; we have no
  * transactional store, so: write the full status set to a temp dir, then
  * atomically swap a `_CURRENT` pointer file — SURVEY §7 "hard parts").
  *
  * The status set is partition-list sized (thousands of rows at most), so
  * full rewrite per update is cheap at any data scale — the fact data is
  * never touched here.
  *
  * ALL IO IS DRIVER-SIDE and no store operation schedules a Spark job:
  * the set is a few KB, so a job per read or write would be pure
  * scheduling latency — ~3N job latencies for a drain of N partitions,
  * the dominant fixed cost of the sequential ETL loop (metadata belongs on
  * the driver). Reads resolve the pointer and serve from an in-memory
  * cache keyed by the generation name (an external writer lands a new
  * generation, so the key check detects it); a cache miss — the first
  * read of every fresh instance, i.e. once per drain — decodes the
  * generation's parquet file with [[graft.sources.DriverParquet]], which
  * reads both the INT64-micros timestamps its writer emits and the INT96
  * timestamps of Spark-written generations. Writes go through
  * `DriverParquet.write`, in the layout Spark's writer produces (one part
  * file + `_SUCCESS`), so the swap protocol — temp generation dir,
  * `_SUCCESS`, pointer swap, generation GC — and the crash-recovery
  * contract (`latestCompleteGen`) hold for generations of either writer.
  */
final class StatusStore(spark: SparkSession, path: String) {
  import spark.implicits._

  /** The store's writes are KB-sized metadata mutations: they go through
    * the checksum-off FileSystem (`DriverParquet.metadataFs`), which creates
    * no `.crc` sibling per file.
    */
  private val fs = DriverParquet.metadataFs(
    new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
  private val root = new org.apache.hadoop.fs.Path(path)
  private val pointer = new org.apache.hadoop.fs.Path(root, "_CURRENT")

  /** Last generation read or written by THIS instance: (gen dir name,
    * rows). Serving reads from it skips all IO while the pointer still
    * names that generation; any other writer necessarily creates a NEW
    * generation dir (names embed time + nonce), so staleness is detected
    * by the pointer resolve that every read still performs.
    */
  @volatile private var cache: (String, IndexedSeq[BackupStatus]) = null

  private def currentDir: Option[String] =
    if (!fs.exists(pointer)) None
    else {
      val in = fs.open(pointer)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }

  /** Newest COMPLETE generation dir (has `_SUCCESS`), by the timestamp and
    * nonce embedded in the name — the crash-recovery fallback when the
    * pointer file is missing. A kill between `delete(_CURRENT)` and
    * `rename(tmp, _CURRENT)` (the one non-atomic instant of the swap —
    * HDFS rename won't overwrite, so delete-first is forced) previously
    * read as an EMPTY store, which would silently re-pend every partition.
    * In that window the newest complete gen is exactly the set being
    * committed, so rolling forward to it is correct; when the pointer
    * exists it always wins (an uncommitted newer gen must stay invisible).
    */
  private def latestCompleteGen: Option[String] = {
    if (!fs.exists(root)) return None
    val gens = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("gen-") &&
        fs.exists(new org.apache.hadoop.fs.Path(root, s"$n/_SUCCESS")))
    if (gens.isEmpty) None
    else Some(gens.maxBy { n =>
      val parts = n.split('-'); (parts(1).toLong, parts(2).toLong)
    })
  }

  /** The current status set as a plain driver-side collection — the form
    * every consumer actually wants (the set is partition-list sized by
    * contract). Cache hit: no IO beyond the pointer read. Cache miss (first
    * read, or a generation written by another instance): one driver-side
    * decode of the tiny generation dir.
    */
  def rows(): IndexedSeq[BackupStatus] = {
    def load(dir: String): IndexedSeq[BackupStatus] = {
      val loaded = DriverParquet.read(spark.sparkContext.hadoopConfiguration,
        DriverParquet.files(fs, new org.apache.hadoop.fs.Path(root, dir))).map(fromRow)
      cache = (dir, loaded)
      loaded
    }
    def attempt(dir: String): Option[IndexedSeq[BackupStatus]] = {
      val c = cache
      if (c != null && c._1 == dir) Some(c._2)
      else
        try Some(load(dir))
        catch {
          // the resolved gen can be GC'd between the pointer read and the
          // parquet read when another process writes twice in that window
          // (only current+previous gens are retained): re-resolve once —
          // the fresh pointer names a live generation
          case _: java.io.FileNotFoundException => None
        }
    }
    currentDir.orElse(latestCompleteGen) match {
      case None => IndexedSeq.empty
      case Some(dir) =>
        attempt(dir).getOrElse(
          currentDir.orElse(latestCompleteGen).fold(
            IndexedSeq.empty[BackupStatus])(load))
    }
  }

  /** A decoded generation row, by column name. Primitive columns must be
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
    * [[write]] garbage-collects generations beyond current+previous, so a
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

  /** Write `rows` as one parquet file + `_SUCCESS` under `gen` — the same
    * at-rest layout `ds.coalesce(1).write.parquet` produced, minus the
    * distributed job (the set is KBs; a Spark job here is pure scheduling
    * latency). Any parquet reader (including [[rows]]' cache-miss path and
    * external `spark.read.parquet`) sees the identical row set.
    */
  private def writeGen(gen: String, rows: Seq[BackupStatus]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(root, gen)
    fs.delete(dir, true)
    DriverParquet.write(fs, dir, rowSchema, rows.map(s => Row(s.tableName, s.hiveDb,
      s.startDate, s.endDate.orNull, s.primaryPartitionColumn, s.primaryPartitionValue,
      s.isComplete, s.numMappers)))
  }

  /** Full-set overwrite with atomic pointer swap: readers see either the old
    * or the new complete set, never a partial write (replays are safe —
    * idempotent like the reference's existence-guarded DDL,
    * `sqoop_etl.py:61-75`). Superseded generations are garbage-collected,
    * keeping the current one plus the previous (for a reader that resolved
    * the pointer just before the swap).
    */
  def writeRows(rows: Seq[BackupStatus]): Unit = {
    val prev = currentDir
    val gen = s"gen-${System.currentTimeMillis()}-${scala.util.Random.nextInt(Int.MaxValue)}"
    writeGen(gen, rows)
    val tmp = new org.apache.hadoop.fs.Path(root, s"_CURRENT.tmp.$gen")
    val out = fs.create(tmp, true)
    try out.write(gen.getBytes("UTF-8")) finally out.close()
    fs.delete(pointer, false)
    if (!fs.rename(tmp, pointer))
      // Hadoop FileSystem.rename reports failure by returning false; a
      // silent miss would leave the store pointer-less while the cache
      // claims the new gen (readers would roll forward via
      // latestCompleteGen, but fail loudly rather than half-commit)
      sys.error(s"StatusStore: pointer swap rename failed: $tmp -> $pointer")
    cache = (gen, rows.toIndexedSeq)
    fs.listStatus(root).map(_.getPath).foreach { p =>
      val n = p.getName
      val stale = (n.startsWith("gen-") && n != gen && !prev.contains(n)) ||
        (n.startsWith("_CURRENT.tmp.") && n != s"_CURRENT.tmp.$gen")
      if (stale) fs.delete(p, true)
    }
  }

  def write(ds: Dataset[BackupStatus]): Unit =
    writeRows(ds.collect().toIndexedSeq)

  /** M2: `update sqoop_etl_status set is_complete='t', end_date=now() where
    * table=? and pid=?` (`sqoop_table.py:59-66`) as read-modify-write.
    */
  def markComplete(table: String, pid: Long, at: Timestamp): Unit =
    markCompleteAll(table, Set(pid), at)

  /** [[markComplete]] for a SET of units in one generation write — the bulk
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
