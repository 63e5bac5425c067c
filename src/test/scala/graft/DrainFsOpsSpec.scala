package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.etl.{EtlRunner, JobConfig}
import graft.sources.IngestLog

/** What a steady journaled drain costs in filesystem metadata operations
  * on the manifest log and the ingest journal: each is listed once per
  * drain, and neither is stat'ed. The table's backup root and its lake sit
  * on a counting local filesystem.
  */
class DrainFsOpsSpec extends SparkSpec {

  /** A lake on the counting filesystem whose drains fold the manifest
    * every `every` drains, after two drains: the first build, then one
    * month through the journal. Returns the temp dir, a month lander and
    * the drain.
    */
  private def journaledLake(every: Int): (String, Long => Unit, () => Seq[Long]) = {
    CountingLocalFs.install(spark)
    val tmp = Files.createTempDirectory("graft-drainfsops").toString
    val at = s"${CountingLocalFs.Scheme}://$tmp"
    val lake = s"$tmp/lake"
    Files.createDirectories(Paths.get(lake))
    def landMonth(m: Long): Unit = {
      val stage = s"$tmp/stage-$m"
      spark.range(40).select(lit(m).as("month_sid"), col("id").as("payload"))
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(lake, s"wave-$m.parquet"))
      IngestLog.record(spark, s"$at/lake", Seq(s"$at/lake/wave-$m.parquet"))
    }
    val cfg = JobConfig(tableName = "t", numMappers = 1, outputFileFormat = "parquet",
      pruned = true, manifestCheckpointEvery = every)
    def drain(): Seq[Long] = EtlRunner.runAllFrom(spark, s"$at/work",
      Seq(cfg -> (EtlRunner.LakeSource(s"$at/lake"): EtlRunner.EtlSource)))("t").get
    landMonth(199501L)
    assert(drain() == Seq(199501L)) // the first build
    landMonth(199502L)
    assert(drain() == Seq(199502L)) // a live delta, a watermark and a cadence count
    (tmp, landMonth, () => drain())
  }

  test("a journaled drain lists the manifest root once and the ingest journal once, and stats neither") {
    val (tmp, landMonth, drain) = journaledLake(every = 8)
    val manifest = s"$tmp/work/data/t_manifest"
    val journal = s"$tmp/lake/_ingest_log"
    def assertOnce(what: String): Unit = {
      val ops = Seq("list" -> manifest, "stat" -> manifest, "list" -> journal, "stat" -> journal)
        .map { case (op, p) => s"$op ${p.stripPrefix(tmp)}" -> CountingLocalFs.count(op, p) }
      assert(ops.map(_._2) == Seq(1, 0, 1, 0), s"$what: $ops")
    }
    CountingLocalFs.reset()
    assert(drain().isEmpty)
    assertOnce("an idle drain")
    landMonth(199503L)
    CountingLocalFs.reset()
    assert(drain() == Seq(199503L))
    assertOnce("a copy drain")
  }

  test("a due journaled drain lists the ingest journal once: its garbage collection reuses the refresh's listing") {
    val (tmp, landMonth, drain) = journaledLake(every = 2)
    val journal = s"$tmp/lake/_ingest_log"
    landMonth(199503L)
    CountingLocalFs.reset()
    assert(drain() == Seq(199503L)) // the second drain since the build: due
    assert(CountingLocalFs.count("list", journal) == 1)
    assert(CountingLocalFs.count("stat", journal) == 0)
    // the reconcile covered every wave, so the collection kept only the newest
    assert(IngestLog.waves(spark, s"${CountingLocalFs.Scheme}://$tmp/lake") == Seq(3L))
  }
}
