package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.etl.{IncrementalBackup, JobConfig, StatusStore}

/** `IncrementalBackup.readBack` reads the months the status store marks
  * complete through a driver-side file index: a published but unmarked
  * month is hidden, the relation has the schema and size statistic of a
  * directory load, and a point-month read lists only that month's dir and
  * the schema sample's, with no listing job.
  */
class ReadBackSpec extends SparkSpec {

  private def months(from: Long, n: Int): Seq[Long] =
    Iterator.iterate(from) { m => if (m % 100 == 12) (m / 100 + 1) * 100 + 1 else m + 1 }
      .take(n).toSeq

  /** 40 rows per month, `month_sid` a stored column, with columns of
    * several types; no array column for `csv`, which cannot hold one.
    */
  private def rows(ms: Seq[Long], fmt: String = "orc"): DataFrame = {
    val all = ms.map(m => spark.range(40).select(lit(m).as("month_sid"), col("id"),
        concat(lit("k"), col("id").cast("string")).as("name"),
        (col("id") / 4).cast("decimal(12,2)").as("price"),
        date_add(lit(java.sql.Date.valueOf("1995-01-01")), col("id").cast("int")).as("day"),
        array(col("id").cast("int")).as("tags")))
      .reduce(_ unionByName _)
    if (fmt == "csv") all.drop("tags") else all
  }

  private def backup(root: String, cfg: JobConfig): (IncrementalBackup, StatusStore) = {
    val store = new StatusStore(spark, s"$root/status")
    (new IncrementalBackup(spark, cfg, store, s"$root/dest"), store)
  }

  private def byMonth(df: DataFrame): Map[Long, Long] = {
    import spark.implicits._
    df.groupBy(col("pid").cast("long")).count().as[(Long, Long)].collect().toMap
  }

  for (fmt <- Seq("orc", "csv"))
  test(s"$fmt: a run crashed after publishing a month but before marking it hides that month; its re-run shows it and equals the never-crashed twin") {
    val root = Files.createTempDirectory("graft-readback-crash").toString
    val cfg = JobConfig(tableName = "t", numMappers = 1, outputFileFormat = fmt)
    val all = months(199501L, 3)
    val (twin, _) = backup(s"$root/twin", cfg)
    twin.run(rows(all.take(1), fmt))
    twin.run(rows(all, fmt))
    val want = byMonth(twin.readBack())
    assert(want == all.map(_ -> 40L).toMap)

    val (job, store) = backup(s"$root/crash", cfg)
    job.run(rows(all.take(1), fmt))
    val (out, marks) = DrainMarks.record(store, "t", Some("drain.copy.written")) {
      job.run(rows(all, fmt))
    }
    assert(out.isEmpty && marks.isEmpty, "the fault did not fire before a mark")
    val published = Paths.get(s"$root/crash/dest/t/pid=${all(1)}")
    assert(Files.isDirectory(published), "the month was not published before the crash")
    assert(byMonth(job.readBack()) == Map(all.head -> 40L),
      "a published but unmarked month is visible")

    assert(job.run(rows(all, fmt)) == all.tail)
    assert(byMonth(job.readBack()) == want)
    val cols = twin.readBack().columns.toSeq.map(col)
    assert(job.readBack().select(cols: _*).exceptAll(twin.readBack().select(cols: _*)).isEmpty)
  }

  test("readBack's schema is a directory load's, for orc, parquet and csv: yyyymm pids, a snapshot pid=0, and pids above Int.MaxValue") {
    val root = Files.createTempDirectory("graft-readback-schema").toString
    val big = 3000000000L
    for (fmt <- Seq("orc", "parquet", "csv");
         (kind, cfg, src, pidType) <- Seq(
           ("yyyymm", JobConfig("t", numMappers = 1, outputFileFormat = fmt),
             rows(months(199511L, 3), fmt), IntegerType),
           ("snapshot", JobConfig("t", numMappers = 1, outputFileFormat = fmt, primaryId = ""),
             rows(Seq(199501L), fmt), IntegerType),
           ("long", JobConfig("t", numMappers = 1, outputFileFormat = fmt),
             rows(Seq(big, big + 1), fmt), LongType))) {
      val (job, _) = backup(s"$root/$fmt-$kind", cfg)
      job.run(src)
      val back = job.readBack()
      val load = spark.read.format(fmt).load(s"$root/$fmt-$kind/dest/t")
      assert(back.schema == load.schema, s"$fmt $kind")
      assert(back.schema("pid").dataType == pidType, s"$fmt $kind")
      assert(byMonth(back) == byMonth(load), s"$fmt $kind")
    }
  }

  test("a point-month read of a backup of more than 32 months runs no listing job and lists only its month's dir and the schema sample's") {
    CountingLocalFs.install(spark)
    val tmp = Files.createTempDirectory("graft-readback-point").toString
    val ms = months(199501L, 34)
    val (job, _) = backup(s"${CountingLocalFs.Scheme}://$tmp", JobConfig("t", numMappers = 1))
    assert(job.run(rows(ms)) == ms)
    val point = ms(5)
    val table = s"$tmp/dest/t"

    val descriptions = new ConcurrentLinkedQueue[String]()
    val tag = "readback-point"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (Option(p.getProperty("spark.job.tags")).exists(_.split(',').contains(tag)))
            descriptions.add(Option(p.getProperty("spark.job.description")).getOrElse(""))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    CountingLocalFs.reset()
    sc.addJobTag(tag)
    val files =
      try job.readBack().filter(col("pid") === point).select(input_file_name())
        .distinct().collect().map(_.getString(0)).toSeq
      finally sc.removeJobTag(tag)
    org.apache.spark.graftx.ListenerBusDrain.drain(sc)
    sc.removeSparkListener(listener)

    val jobs = descriptions.asScala.toSeq
    assert(jobs.nonEmpty && !jobs.exists(_.startsWith("Listing leaf files")), s"jobs: $jobs")
    assert(files.nonEmpty && files.forall(_.contains(s"/t/pid=$point/")), s"read $files")
    val lists = ms.map(m => m -> CountingLocalFs.count("list", s"$table/pid=$m"))
      .filter(_._2 > 0).toMap
    assert(lists == Map(point -> 1, ms.last -> 1), s"dir listings: $lists")
    assert(CountingLocalFs.count("list", table) == 0)
  }

  test("readBack's size statistic is the sum of its data files' lengths, as a directory load's") {
    val root = Files.createTempDirectory("graft-readback-size").toString
    val (job, _) = backup(root, JobConfig("t", numMappers = 2))
    job.run(rows(months(199501L, 4)))
    val table = Paths.get(s"$root/dest/t")
    val walk = Files.walk(table)
    val lengths =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.map(Files.size).sum
      finally walk.close()
    val size = job.readBack().queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size == BigInt(lengths))
    assert(size == spark.read.orc(table.toString).queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  test("a pid-filtered read and a join with a snapshot dim plan as over a directory load, but for the scan's Location") {
    val root = Files.createTempDirectory("graft-readback-plan").toString
    val ms = months(199501L, 4)
    val (facts, _) = backup(s"$root/f", JobConfig("t", numMappers = 2))
    facts.run(rows(ms))
    val (dims, _) = backup(s"$root/d", JobConfig("d", numMappers = 1, primaryId = ""))
    dims.run(rows(Seq(199501L)).select(col("id").as("d_id"), col("name").as("d_name")))
    def queries(f: DataFrame, d: DataFrame): Seq[DataFrame] = Seq(
      f.filter(col("pid") === ms(1)).select("id", "price"),
      f.filter(col("pid") >= ms(2)).join(d, col("id") === col("d_id"))
        .groupBy("d_name").agg(sum("price")))
    def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("Location: \\w+", "Location: L")
    val got = queries(facts.readBack(), dims.readBack())
    val want = queries(spark.read.orc(s"$root/f/dest/t"), spark.read.orc(s"$root/d/dest/d"))
    got.zip(want).foreach { case (g, w) =>
      assert(plan(g) == plan(w))
      assert(plan(g).contains("PartitionFilters: [isnotnull(pid#N)"), plan(g))
      assert(g.collect().map(_.toString).sorted.toSeq == w.collect().map(_.toString).sorted.toSeq)
    }
    assert(plan(got(1)).contains("BroadcastHashJoin"), plan(got(1)))
  }

  test("two read-backs of one table are the same relation, so a cached read-back serves the next; another table's is not") {
    val root = Files.createTempDirectory("graft-readback-equal").toString
    val (job, _) = backup(s"$root/a", JobConfig("t", numMappers = 1))
    job.run(rows(months(199501L, 2)))
    val (other, _) = backup(s"$root/b", JobConfig("t", numMappers = 1))
    other.run(rows(months(199501L, 2)))
    assert(job.readBack().queryExecution.analyzed.sameResult(job.readBack().queryExecution.analyzed))
    assert(!job.readBack().queryExecution.analyzed.sameResult(other.readBack().queryExecution.analyzed))
    val cached = job.readBack().cache()
    try assert(job.readBack().queryExecution.withCachedData.toString.contains("InMemoryRelation"))
    finally cached.unpersist(blocking = true)
  }

  test("a backup with no complete month fails to read back, naming the table's dir") {
    val root = Files.createTempDirectory("graft-readback-none").toString
    val (job, store) = backup(root, JobConfig("t", numMappers = 1))
    val e1 = intercept[Exception](job.readBack())
    assert(e1.getMessage.contains(s"$root/dest/t"), e1.getMessage)
    // recorded but never copied: nothing is marked complete
    job.discover(rows(months(199501L, 2)))
    assert(store.pending("t").count() == 2L)
    val e2 = intercept[Exception](job.readBack())
    assert(e2.getMessage.contains(s"$root/dest/t"), e2.getMessage)
  }
}
