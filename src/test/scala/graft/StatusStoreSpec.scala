package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.etl.{BackupStatus, StatusStore}

/** StatusStore reads and writes are driver-side parquet IO with a
  * generation-keyed cache. These tests pin the contract that must hold:
  * the at-rest layout stays Spark-readable, a FRESH instance (cache-cold,
  * driver-side decode) sees exactly what a driver-side writer wrote
  * (timestamps included), and a generation landed by ANOTHER writer
  * invalidates the cache via the pointer resolve.
  */
class StatusStoreSpec extends SparkSpec {

  private def row(tbl: String, pid: Long, done: Boolean = false,
      end: Option[Timestamp] = None): BackupStatus =
    BackupStatus(tbl, "db", new Timestamp(1234567891234L), end, "month_sid",
      pid, isComplete = done, numMappers = 4)

  test("driver-side write is read back identically by a fresh instance (Spark read path)") {
    val dir = Files.createTempDirectory("graft-ss-rt").toString
    val store = new StatusStore(spark, dir)
    val rows = Seq(
      row("t1", 199501L),
      row("t1", 199502L, done = true, end = Some(new Timestamp(1234567899999L))),
      row("t2", 0L))
    store.writeRows(rows)
    // fresh instance: no cache, resolves the pointer and decodes the
    // generation on the driver
    val fresh = new StatusStore(spark, dir)
    assert(fresh.rows().sortBy(_.primaryPartitionValue).sortBy(_.tableName) ==
      rows.sortBy(_.primaryPartitionValue).sortBy(_.tableName))
    // and a plain Spark read of the generation dir sees the same values
    val gen = spark.read.parquet(
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("gen-")).map(g => s"$dir/$g"): _*)
    assert(gen.count() == 3)
    import org.apache.spark.sql.functions.col
    assert(gen.filter(col("isComplete")).count() == 1)
  }

  test("a generation written by another instance invalidates the cache") {
    val dir = Files.createTempDirectory("graft-ss-inv").toString
    val a = new StatusStore(spark, dir)
    val b = new StatusStore(spark, dir)
    a.writeRows(Seq(row("t", 1L)))
    assert(b.rows().map(_.primaryPartitionValue) == IndexedSeq(1L)) // b caches gen 1
    a.writeRows(Seq(row("t", 1L), row("t", 2L)))                    // a lands gen 2
    assert(b.rows().map(_.primaryPartitionValue).sorted == IndexedSeq(1L, 2L))
  }

  test("markComplete/append/delete/pending round-trip through driver IO") {
    val dir = Files.createTempDirectory("graft-ss-ops").toString
    val store = new StatusStore(spark, dir)
    store.append(Seq(row("t", 1L), row("t", 2L), row("u", 9L)))
    val at = new Timestamp(42000L)
    store.markComplete("t", 1L, at)
    assert(store.pending("t").collect().map(_.primaryPartitionValue).toSeq == Seq(2L))
    val done = store.rows().find(s => s.tableName == "t" &&
      s.primaryPartitionValue == 1L).get
    assert(done.isComplete && done.endDate.contains(at))
    store.delete("t", 2L)
    assert(store.rows().map(r => (r.tableName, r.primaryPartitionValue)).sorted ==
      IndexedSeq(("t", 1L), ("u", 9L)))
  }
}
