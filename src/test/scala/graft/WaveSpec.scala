package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.orc.OrcFile
import org.apache.spark.sql.functions._

import graft.etl.{BackupStatus, IncrementalBackup, JobConfig, StatusStore}

/** The drain's unit of writing is a wave: a run of consecutive copyable
  * months staged by one job, then published and marked month by month,
  * oldest first. A backlog bigger than the wave cap splits into several
  * waves with the same result as one.
  */
class WaveSpec extends SparkSpec with JobCount {

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** Data files (not `_`/`.`-prefixed names) directly under `dir`. */
  private def dataFiles(dir: Path): Seq[Path] =
    fs.listStatus(dir).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .toSeq

  test("a backlog under a small wave cap splits into several waves: same read-back as one wave, every month marked once oldest first, an empty pending month replaced and marked, no staged dir left") {
    val tmp = Files.createTempDirectory("graft-waves").toString
    val months = (1 to 6).map(199500L + _)
    val lake = s"$tmp/lake"
    months.map(m => spark.range(200).select(lit(m).as("month_sid"), col("id").as("payload")))
      .reduce(_ unionByName _)
      .repartition(3).write.parquet(lake)
    val source = spark.read.parquet(lake)
    val cfg = JobConfig(tableName = "t", numMappers = 2)
    def job(tag: String) = {
      val store = new StatusStore(spark, s"$tmp/$tag/status")
      (new IncrementalBackup(spark, cfg, store, s"$tmp/$tag/dest"), store)
    }
    def back(j: IncrementalBackup) = j.readBack()
      .select(col("pid").cast("long"), col("month_sid"), col("payload"))
      .collect().map(_.toString).sorted.toSeq

    val (one, _) = job("one")
    val (copiedOne, oneJobs) = jobsOf(one.run(source))
    assert(copiedOne == months)
    assert(oneJobs == 2, s"the one-wave drain ran $oneJobs jobs") // discovery + one wave

    // a month recorded pending that the source no longer holds, over a
    // live dir with stale rows: its copy is an empty slice
    val (split, store) = job("split")
    val empty = 199412L
    store.append(Seq(BackupStatus("t", cfg.hiveDb, new java.sql.Timestamp(0L), None,
      cfg.primaryId, empty, isComplete = false, cfg.numMappers)))
    val table = new Path(s"$tmp/split/dest/t")
    spark.range(5).select(lit(empty).as("month_sid"), col("id").as("payload"))
      .write.orc(s"$table/pid=$empty")

    // the cap is numMappers x maxPartitionBytes; the source's bytes are
    // spread over 7 recorded months, so a quarter of them per split gives
    // waves of three months at most
    val bytes = source.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val ((copied, jobs), marks) = withConf("spark.sql.files.maxPartitionBytes",
        (bytes / 4).toString) {
      val (out, marks) = DrainMarks.record(store, "t")(jobsOf(split.run(source)))
      (out.get, marks)
    }
    val all = empty +: months
    assert(copied == all)
    // discovery, one write per wave, and the empty month's schema-only write
    assert(jobs - 2 >= 2, s"expected 2 or more waves, the drain ran $jobs jobs")
    assert(marks == all, s"marks out of order or repeated: $marks")
    assert(store.pending("t").isEmpty)

    assert(back(split) == back(one), "split waves diverged from one wave")
    // the empty month's live dir was replaced by a schema-only copy
    assert(fs.exists(new Path(table, s"pid=$empty")))
    assert(spark.read.orc(s"$table/pid=$empty").count() == 0L)
    assert(split.readBack().filter(col("pid") === empty).count() == 0L)
    for (m <- all) {
      val n = dataFiles(new Path(table, s"pid=$m")).size
      assert(n <= cfg.numMappers, s"pid=$m holds $n files")
    }
    assert(fs.listStatus(table).forall(!_.getPath.getName.startsWith("_wave-")),
      "a staged wave dir was left behind")
  }

  test("the bulk and the wave writers both carry the reference's ORC table properties: a 500,000-row index stride") {
    val tmp = Files.createTempDirectory("graft-orcprops").toString
    val orders = Tables.orders(spark, sf)
    def stride(tag: String): Set[Int] =
      fs.listStatus(new Path(s"$tmp/$tag/dest/orders"))
        .filter(_.getPath.getName.startsWith("pid=")).toSeq
        .flatMap(d => dataFiles(d.getPath)).map { f =>
          val r = OrcFile.createReader(f, OrcFile.readerOptions(
            spark.sparkContext.hadoopConfiguration))
          try r.getRowIndexStride finally r.close()
        }.toSet
    val cfg = JobConfig(tableName = "orders", numMappers = 2)
    def job(tag: String) = new IncrementalBackup(spark, cfg,
      new StatusStore(spark, s"$tmp/$tag/status"), s"$tmp/$tag/dest")
    val bulk = job("bulk")
    assert(bulk.runBulk(orders).nonEmpty)
    assert(stride("bulk") == Set(cfg.orcIndexStride))
    val drained = job("drain")
    assert(drained.run(orders).nonEmpty)
    assert(stride("drain") == Set(cfg.orcIndexStride))
  }

  test("a bulk backfill after a partial drain publishes only its own months: the months copied before keep their rows") {
    val tmp = Files.createTempDirectory("graft-bulkpart").toString
    val cfg = JobConfig(tableName = "orders", numMappers = 2)
    val store = new StatusStore(spark, s"$tmp/status")
    val job = new IncrementalBackup(spark, cfg, store, s"$tmp/dest")
    val orders = Tables.orders(spark, sf)
    val months = job.discover(orders)
    job.copyPartition(orders, months.head)
    assert(job.runBulk(orders) == months.tail)
    assert(store.pending("orders").isEmpty)
    assert(job.readBack().count() == orders.count())
    assert(fs.listStatus(new Path(s"$tmp/dest/orders"))
      .forall(!_.getPath.getName.startsWith("_wave-")))
  }
}
