package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.etl.{EtlRunner, IncrementalBackup, JobConfig, StatusStore}
import graft.sources.{IngestLog, ManifestLog}

/** What an ETL drain costs in Spark jobs, and what it leaves behind in the
  * caller's session. The drain's metadata (status store, manifest log, lake
  * schema) is read on the driver, so a drain that finds nothing new runs no
  * job at all, and one that copies a landed month runs only the copy write;
  * the concurrent runner must not change any session conf.
  */
class DrainJobsSpec extends SparkSpec with JobCount {

  /** One month of rows as a single parquet file landed in `lake` and
    * recorded in its ingest journal.
    */
  private def landMonth(tmp: String, lake: String, m: Long): Unit = {
    val stage = s"$tmp/stage-$m"
    spark.range(40).select(lit(m).as("month_sid"), col("id").as("payload"))
      .coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = Paths.get(lake, s"wave-$m.parquet")
    Files.copy(part.toPath, dst)
    IngestLog.record(spark, lake, Seq(dst.toString))
  }

  test("journaled drain job gate: a drain that finds nothing new runs 0 Spark jobs; one landed month costs at most 6") {
    val tmp = Files.createTempDirectory("graft-drainjobs").toString
    val lake = s"$tmp/lake"
    Files.createDirectories(Paths.get(lake))
    val cfg = JobConfig(tableName = "t", numMappers = 1, outputFileFormat = "parquet",
      pruned = true, manifestCheckpointEvery = 8)
    // what the runner does per drain: a fresh status store and drain object
    def drain(): Seq[Long] =
      EtlRunner.runAllFrom(spark, s"$tmp/work",
        Seq(cfg -> (EtlRunner.LakeSource(lake): EtlRunner.EtlSource)))("t").get
    landMonth(tmp, lake, 199501L)
    landMonth(tmp, lake, 199502L)
    assert(drain() == Seq(199501L, 199502L)) // first drain builds the manifest

    val (idle, idleJobs) = jobsOf(drain())
    assert(idle.isEmpty)
    assert(idleJobs == 0, s"an idle journaled drain ran $idleJobs Spark jobs")

    landMonth(tmp, lake, 199503L)
    val (copied, copyJobs) = jobsOf(drain())
    assert(copied == Seq(199503L))
    // only the copy write: the wave file's stats come from its footer, the
    // manifest delta is written on the driver, and the file's one-month
    // interval is its discovered month
    assert(copyJobs == 1, s"a one-month drain ran $copyJobs Spark jobs")

    val (again, againJobs) = jobsOf(drain())
    assert(again.isEmpty && againJobs == 0, s"idle after copy ran $againJobs jobs")
    // and the backup is whole
    val back = new IncrementalBackup(spark, cfg,
      new StatusStore(spark, s"$tmp/work/status/t"), s"$tmp/work/data").readBack()
    assert(back.count() == 120L)
  }

  test("due drain job gate: a reconcile-and-checkpoint drain that finds nothing new runs at most 6 Spark jobs") {
    val tmp = Files.createTempDirectory("graft-duejobs").toString
    val lake = s"$tmp/lake"
    Files.createDirectories(Paths.get(lake))
    val cfg = JobConfig(tableName = "t", numMappers = 1, outputFileFormat = "parquet",
      pruned = true, manifestCheckpointEvery = 2)
    def drain(): Seq[Long] =
      EtlRunner.runAllFrom(spark, s"$tmp/work",
        Seq(cfg -> (EtlRunner.LakeSource(lake): EtlRunner.EtlSource)))("t").get
    landMonth(tmp, lake, 199501L)
    assert(drain() == Seq(199501L)) // first build
    landMonth(tmp, lake, 199502L)
    assert(drain() == Seq(199502L)) // leaves a live delta for the fold
    def log = new ManifestLog(spark, s"$tmp/work/data/t_manifest")
    assert(log.deltasSinceCheckpoint == 1)

    val (due, dueJobs) = jobsOf(drain()) // second drain since the fold: due
    assert(due.isEmpty)
    // a fresh instance: one lists the log once and sees only its own writes
    assert(log.deltasSinceCheckpoint == 0, "the due drain must fold the live delta")
    // the fold's write, the bucket summary (shuffle + result) and the
    // reconcile's full outer join (two shuffles + result)
    assert(dueJobs <= 6, s"a due drain that found nothing new ran $dueJobs Spark jobs")

    val (idle, idleJobs) = jobsOf(drain())
    assert(idle.isEmpty && idleJobs == 0, s"idle after the due drain ran $idleJobs jobs")
  }

  test("relation drain job gate: run over a 3-month relation runs 2 Spark jobs; an idle re-run runs 0") {
    val tmp = Files.createTempDirectory("graft-reljobs").toString
    val lake = s"$tmp/lake"
    spark.range(90).select((lit(199501L) + col("id") % 3).as("month_sid"),
        col("id").as("payload"))
      .repartitionByRange(3, col("month_sid")).write.parquet(lake)
    val source = spark.read.parquet(lake)
    val job = new IncrementalBackup(spark,
      JobConfig(tableName = "t", numMappers = 1, outputFileFormat = "parquet"),
      new StatusStore(spark, s"$tmp/status"), s"$tmp/dest")
    val (copied, jobs) = jobsOf(job.run(source))
    assert(copied == Seq(199501L, 199502L, 199503L))
    // the map-only discovery and one wave write for all three months:
    // publishing and marking a month adds no job
    assert(jobs == 2, s"a 3-month relation drain ran $jobs Spark jobs")
    // every month recorded, and the footers of the source's files bound
    // its stored month_sid to recorded months: no discovery scan
    val (again, againJobs) = jobsOf(job.run(source))
    assert(again.isEmpty && againJobs == 0, s"an idle relation drain ran $againJobs jobs")
  }

  /** Executed-plan trees (inner children included) of every file write
    * that `f` runs.
    */
  private def writePlans(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = {
        val tree = qe.executedPlan.treeString
        if (tree.contains("InsertIntoHadoopFsRelationCommand")) plans.add(tree)
      }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try f finally {
      org.apache.spark.graftx.ListenerBusDrain.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  private def adaptive(tree: String): Boolean =
    tree.contains(classOf[AdaptiveSparkPlanExec].getSimpleName.stripSuffix("Exec"))

  /** Run `f` with adaptive execution explicitly on, restoring the setting. */
  private def withAqe[T](f: => T): T = withConf("spark.sql.adaptive.enabled", "true")(f)

  test("with AQE on, the relation, pruned and lake copy writes plan no adaptive stage (no exchange to adapt)") {
    withAqe(copyPlansAreStatic())
  }

  private def copyPlansAreStatic(): Unit = {
    val tmp = Files.createTempDirectory("graft-aqecopy").toString
    // control: a write with an exchange IS planned adaptively
    val control = writePlans {
      spark.range(100).repartition(3).write.parquet(s"$tmp/control")
    }
    assert(control.nonEmpty && control.forall(adaptive))

    val lake = s"$tmp/lake"
    spark.range(60).select((lit(199501L) + col("id") % 3).as("month_sid"),
        col("id").as("payload"))
      .repartitionByRange(3, col("month_sid")).write.parquet(lake)
    def job(name: String) = new IncrementalBackup(spark,
      JobConfig(tableName = "t", numMappers = 2, outputFileFormat = "parquet"),
      new StatusStore(spark, s"$tmp/status-$name"), s"$tmp/dest-$name")
    val relation = writePlans { assert(job("r").run(spark.read.parquet(lake)).size == 3) }
    val pruned = writePlans { assert(job("p").runPruned(lake).size == 3) }
    val incr = writePlans { assert(job("i").runPrunedIncremental(lake).size == 3) }
    for ((name, ps) <- Seq("relation" -> relation, "pruned" -> pruned, "lake" -> incr)) {
      // the three months are one wave: one staged write
      val copies = ps.filter(_.contains("/t/_wave-"))
      assert(copies.size == 1, s"$name: ${copies.size} copy writes")
      assert(!copies.exists(adaptive), s"$name copy planned an adaptive stage")
    }
  }

  test("runAllConcurrentFrom leaves the session conf exactly as it found it (AQE on, 3 tables in flight)") {
    withAqe {
      val tmp = Files.createTempDirectory("graft-confscope").toString
      val jobs = Seq("a", "b", "c").map { t =>
        val df = spark.range(90).select((lit(199501L) + col("id") % 3).as("month_sid"),
          col("id").as("payload"))
        JobConfig(tableName = t, numMappers = 1, outputFileFormat = "parquet") ->
          (EtlRunner.RelationSource(df): EtlRunner.EtlSource)
      }
      val before = spark.conf.getAll
      val out = EtlRunner.runAllFrom(spark, tmp, jobs, maxParallel = 3)
      assert(out.values.forall(_.exists(_.size == 3)), out.toString)
      assert(spark.conf.getAll == before)
    }
  }
}
