package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.etl.{BackupStatus, IncrementalBackup, JobConfig, StatusStore}
import graft.etl.EtlRunner.LakeSource
import graft.sources.{AtomicLog, DriverParquet, FaultPoints, IngestLog, ManifestLog}

/** The publish-by-rename log under the status store and the manifest log,
  * checked against hand-made filesystem states: each state is one a kill
  * can leave (a staged entry, a publish without its GC, a GC cut short),
  * and every reader must see the newest published entries only. A
  * `ManifestLog` instance lists its directory once, so each hand-made state
  * is read through a new instance, as the next drain would read it.
  */
class AtomicLogSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  // checksum-off, as the stores' own: no `.crc` sibling per file
  private def fs = DriverParquet.metadataFs(new Path("/"), conf)

  private def names(dir: String): Set[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName).filterNot(_.endsWith(".crc")).toSet

  private def text(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def status(n: Int, done: Boolean = false): Seq[BackupStatus] =
    (1 to n).map(i => BackupStatus("t", "db", new Timestamp(1000L), None, "m",
      i.toLong, isComplete = done, 4))

  test("publish: a staged entry is invisible until its rename, and list returns entries oldest first") {
    val dir = Files.createTempDirectory("graft-alog-pub").toString
    val log = new AtomicLog(fs, new Path(dir, "log"))
    assert(log.list().entries.isEmpty, "a missing directory lists as empty")
    Seq(2L, 10L, 1L).foreach(s => log.publish("delta", s)(text(_, s"d$s")))
    log.publish("checkpoint", 2L) { tmp =>
      text(tmp, "c2")
      assert(log.list().newest("checkpoint").isEmpty, "staged, not yet published")
      assert(log.list().staged == Seq(".checkpoint-2.tmp"))
    }
    val l = log.list()
    assert(l.seqs("delta") == Seq(1L, 2L, 10L))
    assert(l.newest("checkpoint").contains(2L) && l.staged.isEmpty)
    assert(names(s"$dir/log") == Set("delta-1", "delta-2", "delta-10", "checkpoint-2"))
  }

  private val manifestSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("min_pid", LongType), StructField("max_pid", LongType)))

  private def adds(files: String*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(files.zipWithIndex.map { case (f, i) =>
      Row(f, 1L, 199501L + i, 199501L + i) }.asJava, manifestSchema)
  }

  private def files(m: ManifestLog): Seq[String] =
    m.current().get.select("file").collect().map(_.getString(0)).toSeq.sorted

  test("a staged, unpublished entry is never read") {
    val dir = Files.createTempDirectory("graft-alog-staged").toString
    val log = new AtomicLog(fs, new Path(dir, "log"))
    log.publish("snapshot", 0L)(text(_, "s0"))
    text(new Path(dir, "log/.snapshot-1.tmp"), "s1")
    assert(log.list().newest("snapshot").contains(0L))

    // the manifest: a complete delta under its staged name (a writer killed
    // before the rename) is not folded, nor counted as live
    val m = new ManifestLog(spark, s"$dir/m")
    m.commitDelta(adds("/a.parquet"), Seq.empty)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(Seq(Row("/b.parquet", 2L, 2L, 2L, false)).asJava,
      manifestSchema.add("tombstone", BooleanType, nullable = false))
      .coalesce(1).write.parquet(s"$dir/m/.delta-1.tmp")
    val next = new ManifestLog(spark, s"$dir/m")
    assert(files(next) == Seq("/a.parquet"))
    assert(next.deltasSinceCheckpoint == 1)
  }

  test("a kill after the publish but before GC leaves the newest entry winning") {
    val dir = Files.createTempDirectory("graft-alog-nogc").toString
    val m = new ManifestLog(spark, s"$dir/m")
    m.commitDelta(adds("/a.parquet", "/b.parquet"), Seq.empty)
    m.checkpoint()                                   // checkpoint-0
    m.commitDelta(adds(), Seq("/a.parquet"))         // delta-1
    m.commitDelta(adds("/c.parquet"), Seq.empty)     // delta-2
    val want = Seq("/b.parquet", "/c.parquet")
    // keep what the checkpoint's GC would delete: the folded deltas and
    // the older checkpoint
    val keep = s"$dir/keep"
    Seq("checkpoint-0", "delta-1", "delta-2").foreach(n =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir, s"m/$n"), fs,
        new Path(keep, n), false, conf))
    m.checkpoint()                                   // checkpoint-2
    assert(names(s"$dir/m") == Set("checkpoint-2"))
    Seq("checkpoint-0", "delta-1", "delta-2").foreach(n =>
      assert(fs.rename(new Path(keep, n), new Path(dir, s"m/$n"))))
    val next = new ManifestLog(spark, s"$dir/m")
    assert(files(next) == want && next.deltasSinceCheckpoint == 0,
      "the newest checkpoint wins; deltas it folded are not live")
    assert(next.localizedPruned((_, _) => true).view.count() == 2)
    next.gc()
    assert(names(s"$dir/m") == Set("checkpoint-2"))
    assert(files(next) == want)
  }

  test("GC dying midway is harmless, and the next GC finishes it") {
    val dir = Files.createTempDirectory("graft-alog-gc").toString
    val log = new AtomicLog(fs, new Path(dir, "log"))
    (0L to 4L).foreach(s => log.publish("snapshot", s)(text(_, s"s$s")))
    val before = log.list()
    // a GC of every entry below 3, cut short after its first delete
    fs.delete(log.path("snapshot", 0L), true)
    assert(log.list().newest("snapshot").contains(4L))
    log.gc(log.list())(_.seq < 3L)
    assert(log.list().seqs("snapshot") == Seq(3L, 4L))
    // a GC from a listing taken before those deletes changes nothing more
    log.gc(before)(_.seq < 3L)
    assert(log.list().seqs("snapshot") == Seq(3L, 4L))
  }

  test("the next write clears the debris, including a staged entry under the name it is about to publish") {
    val dir = Files.createTempDirectory("graft-alog-debris").toString
    val log = new AtomicLog(fs, new Path(dir, "log"))
    log.publish("snapshot", 0L)(text(_, "s0"))
    text(new Path(dir, "log/.snapshot-1.tmp"), "junk")
    val l = log.list()
    assert(l.staged == Seq(".snapshot-1.tmp"))
    log.gc(l)(_ => false)
    log.publish("snapshot", 1L)(text(_, "s1"))
    assert(names(s"$dir/log") == Set("snapshot-0", "snapshot-1"))

    // the manifest's delta and checkpoint writes clear their own debris
    val m = new ManifestLog(spark, s"$dir/m")
    m.commitDelta(adds("/a.parquet"), Seq.empty)
    fs.mkdirs(new Path(dir, "m/.delta-1.tmp"))
    text(new Path(dir, "m/.delta-1.tmp/part-00000.snappy.parquet"), "junk")
    fs.mkdirs(new Path(dir, "m/.checkpoint-1.tmp"))
    assert(new ManifestLog(spark, s"$dir/m").commitDelta(adds("/b.parquet"), Seq.empty)
      .contains(1L))
    assert(names(s"$dir/m") == Set("delta-0", "delta-1"))
    fs.mkdirs(new Path(dir, "m/.checkpoint-1.tmp/pb=1995"))
    val next = new ManifestLog(spark, s"$dir/m")
    next.checkpoint()
    assert(names(s"$dir/m") == Set("checkpoint-1"))
    assert(files(next) == Seq("/a.parquet", "/b.parquet"))
  }

  test("a kill after a new watermark entry is published but before the older one is GC'd leaves the newest winning, and the next write clears the older one") {
    val dir = Files.createTempDirectory("graft-alog-wm").toString
    val m = s"$dir/m"
    val log = new ManifestLog(spark, m)
    log.setWaveWatermark(3L)
    log.setRefreshCount(1L)
    FaultPoints.install { n =>
      if (n == "manifest.watermark.created") throw new RuntimeException(s"injected@$n")
    }
    try intercept[RuntimeException](log.setWaveWatermark(5L))
    finally FaultPoints.clear()
    // and the same window for the cadence, made by hand
    text(new Path(m, "cadence-2"), "")
    assert(names(m) == Set("watermark-3", "watermark-5", "cadence-1", "cadence-2"))
    val next = new ManifestLog(spark, m)
    assert(next.waveWatermark == 5L && next.refreshCount == 2L, "the newest entry wins")
    next.setWaveWatermark(7L)
    assert(names(m) == Set("watermark-7", "cadence-2"))
    next.setRefreshCount(3L)
    assert(names(m) == Set("watermark-7", "cadence-3"))
    next.setRefreshCount(0L)
    assert(names(m) == Set("watermark-7"))
    assert(new ManifestLog(spark, m).refreshCount == 0L)
  }

  test("a manifest dir holding old-layout _wave-N/_refresh-N files: a journaled drain ignores them, commits no delta, and the cadence restarts at 0") {
    val dir = Files.createTempDirectory("graft-alog-old").toString
    val lake = s"$dir/lake"
    def land(month: Long, journal: Boolean): Unit = {
      val stage = s"$dir/stage-$month"
      spark.range(40).select(lit(month).as("month_sid"), col("id").as("payload"))
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(lake, s"m-$month.parquet")
      Files.createDirectories(dst.getParent)
      Files.copy(part.toPath, dst)
      if (journal) IngestLog.record(spark, lake, Seq(dst.toString))
    }
    val job = new IncrementalBackup(spark, JobConfig(tableName = "t", numMappers = 1,
      outputFileFormat = "parquet", pruned = true, manifestCheckpointEvery = 8),
      new StatusStore(spark, s"$dir/status"), s"$dir/dest")
    val m = job.manifestPath
    land(199501L, journal = false) // the first build lists the lake
    assert(job.drain(LakeSource(lake)) == Seq(199501L))
    land(199502L, journal = true)  // then the journal feeds a live delta
    assert(job.drain(LakeSource(lake)) == Seq(199502L))
    assert(names(m) == Set("checkpoint-0", "delta-1", "watermark-1", "cadence-1"))
    def manifest() = job.readManifest().collect().map(_.toString).sorted.toSeq
    val before = manifest()
    // the same store as the marker files of the old layout would hold it
    assert(fs.rename(new Path(m, "watermark-1"), new Path(m, "_wave-1")))
    assert(fs.rename(new Path(m, "cadence-1"), new Path(m, "_refresh-1")))
    val old = new ManifestLog(spark, m)
    assert(old.waveWatermark == -1L && old.refreshCount == 0L)

    // the journal is re-read from the start; its one wave sits in the live
    // delta, so the diff is empty
    assert(job.drain(LakeSource(lake)).isEmpty)
    assert(names(m) == Set("checkpoint-0", "delta-1", "watermark-1", "cadence-1",
      "_wave-1", "_refresh-1"), "no delta committed; the old files are left alone")
    assert(manifest() == before)
    assert(new ManifestLog(spark, m).refreshCount == 1L, "the cadence restarted at 0")
  }
}
