package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.etl.{IncrementalBackup, JobConfig, StatusStore}
import graft.operators.ReferenceOps

/** A relation drain checks the footers of its source's parquet files
  * before it scans: when their pid bounds show every month recorded,
  * discovery records nothing and runs no Spark job. Each case below
  * compares the subject's discovery with the scan route (a twin drain
  * whose source sits behind a repartition, a plan the check never reads)
  * and with `ReferenceOps.discoverPendingPartitions`, and counts jobs to
  * show which route ran.
  */
class FooterDiscoverySpec extends SparkSpec with JobCount {

  private val months = Seq(199501L, 199502L, 199504L) // a gap at 199503
  private val gap = 199503L

  /** `n` rows per month of `ms`: the month as `month_sid`, a payload, a
    * join key and the month's 10th day as DATE `d` and as timestamp `ts`
    * (the month's first day at 00:30, so the hour decides nothing).
    */
  private def rows(ms: Seq[Long], n: Int = 30): DataFrame =
    ms.map { m =>
      spark.range(n).select(lit(m).as("month_sid"), col("id").as("payload"),
        (col("id") % 3).as("key"),
        to_date(lit(f"${m / 100}%04d-${m % 100}%02d-10")).as("d"),
        to_timestamp(lit(f"${m / 100}%04d-${m % 100}%02d-01 00:30:00")).as("ts"))
    }.reduce(_ unionByName _)

  /** Write `df` as one parquet file per month into `dir`. */
  private def write(df: DataFrame, dir: String): Unit =
    df.repartitionByRange(3, col("d")).write.parquet(dir)

  /** Add `df` to the flat lake `dir` as one new parquet file. */
  private def append(tmp: String, df: DataFrame, dir: String, name: String): Unit = {
    val stage = s"$tmp/stage-$name"
    df.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(dir, s"$name.parquet"))
  }

  /** Add `df` to the `month_sid=m` directory of the partitioned lake `dir`. */
  private def inMonthDir(tmp: String, dir: String, m: Long, df: DataFrame): Unit = {
    Files.createDirectories(Paths.get(dir, s"month_sid=$m"))
    append(tmp, df, s"$dir/month_sid=$m", s"m$m")
  }

  /** The TIMESTAMP_NTZ source `EtlMain.source` binds: `Tables.load` casts
    * the column to TIMESTAMP, and `month_sid` is its month.
    */
  private def ntzSource(tmp: String, name: String): DataFrame =
    Tables.load(spark, tmp, name)
      .withColumn("month_sid", ReferenceOps.monthSid(col("ts")))

  private def ntz(df: DataFrame): DataFrame =
    df.drop("month_sid").withColumn("ts", col("ts").cast("timestamp_ntz"))

  /** A subject drain and its scan-route twin over the source `source()`,
    * each with its own status store: the subject backfills, the twin
    * records the same months, and [[rediscover]] discovers again on both.
    */
  private final class Pair(tmp: String, cfg: JobConfig, source: () => DataFrame) {
    private def job(tag: String) = new IncrementalBackup(spark, cfg,
      new StatusStore(spark, s"$tmp/$tag/status"), s"$tmp/$tag/dest")
    val subject = job("subject")
    private val twin = job("twin")
    private def scanned(): DataFrame = source().repartition(2)
    subject.run(source())
    twin.discover(scanned())

    /** The subject's discovered months and the jobs it ran, after asserting
      * they equal the twin's and the reference's (a null pid is no month).
      */
    def rediscover(): (Seq[Long], Int) = {
      val src = source()
      val pid: Column = subject.pidCol(src)
      import spark.implicits._
      val recorded = new StatusStore(spark, s"$tmp/subject/status").rows()
        .map(_.primaryPartitionValue).toDF("month_sid")
      val expect = ReferenceOps.discoverPendingPartitions(src.filter(pid.isNotNull),
        pid, recorded, 0).as[Long].collect().sorted.toSeq
      val (got, jobs) = jobsOf(subject.discover(src))
      assert(got == expect, s"footer route $got != reference $expect")
      assert(twin.discover(scanned()) == expect, "the scan route diverged")
      (got, jobs)
    }
  }

  private def fresh(name: String): String =
    Files.createTempDirectory(s"graft-footdisc-$name").toString

  test("a pid the footers bound (stored BIGINT or INT, month of DATE, month of the UTC-cast TIMESTAMP_NTZ): an idle re-run runs no job; a gap month appended as a new file is scanned and discovered exactly") {
    val shapes: Seq[(String, DataFrame => DataFrame, (String, String) => DataFrame)] = Seq(
      ("bigint", identity, (tmp, lake) => spark.read.parquet(lake)),
      ("int", _.withColumn("month_sid", col("month_sid").cast("int")),
        (tmp, lake) => spark.read.parquet(lake)),
      ("date", _.drop("month_sid"), (tmp, lake) =>
        spark.read.parquet(lake).withColumn("month_sid", ReferenceOps.monthSid(col("d")))),
      ("ntz", ntz, (tmp, lake) => ntzSource(tmp, "lake")))
    for ((name, shape, read) <- shapes) {
      val tmp = fresh(name)
      val lake = s"$tmp/lake.parquet"
      write(shape(rows(months)), lake)
      val pair = new Pair(tmp, JobConfig(tableName = "t", numMappers = 1), () => read(tmp, lake))
      val (idle, idleJobs) = pair.rediscover()
      assert(idle.isEmpty && idleJobs == 0, s"$name: an idle discovery ran $idleJobs jobs")
      assert(pair.subject.run(read(tmp, lake)).isEmpty)

      append(tmp, shape(rows(Seq(gap))), lake, "gap")
      val (found, jobs) = pair.rediscover()
      assert(found == Seq(gap), name)
      assert(jobs >= 1, s"$name: the gap month was found without a scan")
      assert(pair.subject.run(read(tmp, lake)) == Seq(gap), name)
      assert(pair.subject.readBack().count() == 120L, name)
    }
  }

  test("sources the footers cannot bound fall back to the scan: an INT96 timestamp, a join, a union, a pid of month_sid + 1, a partitioned directory, a TIMESTAMP_NTZ cast under a non-UTC session") {
    // each case: write the history, add the gap month, read the source
    type Case = (String => Unit, String => Unit, String => DataFrame, JobConfig)
    val cfg = JobConfig(tableName = "t", numMappers = 1)
    def lake(tmp: String) = s"$tmp/lake.parquet"
    val cases: Seq[(String, Case)] = Seq(
      "int96" -> ((
        tmp => withConf("spark.sql.parquet.outputTimestampType", "INT96")(
          write(rows(months).drop("month_sid"), lake(tmp))),
        tmp => withConf("spark.sql.parquet.outputTimestampType", "INT96")(
          append(tmp, rows(Seq(gap)).drop("month_sid"), lake(tmp), "gap")),
        tmp => spark.read.parquet(lake(tmp))
          .withColumn("month_sid", ReferenceOps.monthSid(col("ts"))),
        cfg)),
      "join" -> ((
        tmp => write(rows(months), lake(tmp)),
        tmp => append(tmp, rows(Seq(gap)), lake(tmp), "gap"),
        tmp => spark.read.parquet(lake(tmp))
          .join(spark.range(3).withColumnRenamed("id", "key"), "key"),
        cfg)),
      "union" -> ((
        tmp => { write(rows(months.take(1)), s"$tmp/a"); write(rows(months.drop(1)), lake(tmp)) },
        tmp => append(tmp, rows(Seq(gap)), lake(tmp), "gap"),
        tmp => spark.read.parquet(s"$tmp/a").unionByName(spark.read.parquet(lake(tmp))),
        cfg)),
      // the gap month's month_sid is a recorded pid: bounds taken from the
      // stored column would wrongly show it recorded
      "month_sid + 1" -> ((
        tmp => write(rows(Seq(199501L, 199502L)), lake(tmp)),
        tmp => append(tmp, rows(Seq(199503L)), lake(tmp), "gap"),
        tmp => spark.read.parquet(lake(tmp)).withColumn("p", col("month_sid") + 1),
        cfg.copy(primaryId = "p"))),
      // every file also stores month_sid, which its directory's value
      // overrides; the gap month's file stores a recorded one, so its footer
      // would wrongly show the month recorded
      "partitioned" -> ((
        tmp => months.foreach(m => inMonthDir(tmp, lake(tmp), m, rows(Seq(m)))),
        tmp => inMonthDir(tmp, lake(tmp), gap, rows(months.take(1))),
        tmp => spark.read.parquet(lake(tmp)),
        cfg)),
      "non-UTC cast" -> ((
        tmp => write(ntz(rows(months)), lake(tmp)),
        tmp => append(tmp, ntz(rows(Seq(gap))), lake(tmp), "gap"),
        tmp => ntzSource(tmp, "lake"),
        cfg)))
    for ((name, (history, addGap, read, c)) <- cases) {
      val tmp = fresh(name.replaceAll("[^a-z0-9]", ""))
      def inZone[T](f: => T): T =
        if (name == "non-UTC cast") withConf("spark.sql.session.timeZone", "America/New_York")(f)
        else f
      inZone {
        history(tmp)
        val pair = new Pair(tmp, c, () => read(tmp))
        val (idle, idleJobs) = pair.rediscover()
        assert(idle.isEmpty, name)
        assert(idleJobs >= 1, s"$name: an idle discovery skipped the scan")
        addGap(tmp)
        val (found, jobs) = pair.rediscover()
        assert(found.size == 1, s"$name: discovered $found")
        assert(jobs >= 1, s"$name: the new month was found without a scan")
      }
    }
  }

  test("all-null and zero-row files do not block the skip") {
    val tmp = fresh("nulls")
    val lake = s"$tmp/lake"
    write(rows(months), lake)
    append(tmp, rows(Seq(199501L)).withColumn("month_sid", lit(null).cast("long")), lake, "nulls")
    append(tmp, rows(Seq(199501L)).limit(0), lake, "empty")
    val pair = new Pair(tmp, JobConfig(tableName = "t", numMappers = 1),
      () => spark.read.parquet(lake))
    val (idle, jobs) = pair.rediscover()
    assert(idle.isEmpty)
    assert(jobs == 0, s"an idle discovery over null-only and empty files ran $jobs jobs")
  }

  test("an idle EtlMain re-run over a TIMESTAMP_NTZ source runs no Spark job; the copy is whole") {
    val tmp = fresh("etlmain")
    val sfDir = s"$tmp/sf"
    Files.createDirectories(Paths.get(sfDir))
    val orders = Tables.orders(spark, sf)
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp_ntz"))
    append(tmp, orders, sfDir, "orders")
    val root = s"$tmp/work"
    assert(!EtlMain.run(spark, sfDir, root, Seq("orders")).contains(""""orders":0"""))
    val (again, jobs) = jobsOf(EtlMain.run(spark, sfDir, root, Seq("orders")))
    assert(again.contains(""""orders":0"""))
    assert(jobs == 0, s"an idle EtlMain re-run ran $jobs jobs")
    assert(spark.read.orc(s"$root/data/orders").count() == orders.count())
    assert(Tables.load(spark, sfDir, "orders").schema("o_orderdate").dataType == TimestampType)
  }
}
