package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.StatsStore
import graft.sources.StatsStore.Key

/** Per-file stats read from parquet footers on the driver equal the rows of
  * the per-file aggregation (the same key computed by a Spark job over the
  * same files), and run no Spark job; a file whose footer cannot give the
  * bounds takes the aggregation.
  */
class StatsStoreSpec extends SparkSpec with JobCount {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** The stats of the lake `dir` (or of `files` in it) with key `key`,
    * asserted equal — rows and schema — to the aggregation's stats of the
    * same key; returns the Spark jobs the footer path ran.
    */
  private def footerJobs(dir: String, key: Key, files: Option[Seq[String]] = None): Int = {
    def stats(k: Key): DataFrame = files.fold(
      StatsStore.collectExpr(spark, dir, Seq("pid" -> k)))(
      StatsStore.statsForFiles(spark, dir, Seq("pid" -> k), _))
    val ((schema, rows), jobs) = jobsOf { val s = stats(key); (s.schema, s.collect().toSeq) }
    val want = stats(Key.Expr(key.column))
    assert(schema == want.schema)
    assert(sorted(rows) == sorted(want.collect().toSeq))
    assert(rows.nonEmpty)
    jobs
  }

  /** Write `df` into a fresh lake dir (appending to `into` when given). */
  private def lake(df: DataFrame, into: Option[String] = None,
      options: Map[String, String] = Map.empty): String = {
    val dir = into.getOrElse(Files.createTempDirectory("graft-stats").toString + "/lake")
    df.write.options(options).mode("append").parquet(dir)
    dir
  }

  private def dataFiles(dir: String): Seq[Path] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => new Path(f.getPath)).toSeq

  private def footer(file: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getFooter finally r.close()
  }

  /** Run `f` with the session confs `kv` set, restoring them after. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 600 rows over ~4 months from 1995-11-20, 4 range-split files (tight
    * month intervals, several spanning a month boundary).
    */
  private def days: DataFrame =
    spark.range(600).select(col("id"),
      date_add(lit("1995-11-20").cast("date"), (col("id") / 5).cast("int")).as("d"))
      .repartitionByRange(4, col("id"))

  test("stored LONG and INT keys: footer stats equal the aggregation's, with no Spark job") {
    val dir = lake(spark.range(300).select(
      (lit(199501L) + col("id") % 7).as("k_long"),
      (lit(199501) + (col("id") % 5).cast("int")).as("k_int"))
      .repartitionByRange(3, col("k_long")))
    assert(footerJobs(dir, Key.Stored("k_long")) == 0)
    assert(footerJobs(dir, Key.Stored("k_int")) == 0)
    // the paths a drain passes (a journal's plain paths) give the same rows
    assert(footerJobs(dir, Key.Stored("k_long"),
      Some(dataFiles(dir).map(_.toUri.getPath))) == 0)
  }

  test("monthSid of a DATE key: footer stats equal the aggregation's, with no Spark job") {
    val dir = lake(days)
    assert(footerJobs(dir, Key.MonthOf("d")) == 0)
  }

  test("monthSid of a Spark-written TIMESTAMP key, in the session time zone: footer stats equal the aggregation's") {
    // hourly steps across month boundaries, so the zone decides the month
    val ts = spark.range(2000).select(
      timestamp_seconds(lit(817000000L) + col("id") * 3600L).as("ts"))
      .repartitionByRange(4, col("ts"))
    val dir = withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(lake(ts))
    assert(footer(dataFiles(dir).head).getFileMetaData.getSchema.getType(0).toString
      .contains("TIMESTAMP(MICROS,true)"))
    for (zone <- Seq("UTC", "America/Los_Angeles", "Asia/Kolkata"))
      withConf("spark.sql.session.timeZone" -> zone) {
        assert(footerJobs(dir, Key.MonthOf("ts")) == 0, zone)
      }
  }

  test("monthSid of an INT64 TIMESTAMP(isAdjustedToUTC=false) key: footer stats equal the aggregation's, with no zone shift") {
    val ntz = spark.range(2000).select(
      timestamp_seconds(lit(817000000L) + col("id") * 3600L).cast("timestamp_ntz").as("ts"))
      .repartitionByRange(4, col("ts"))
    val dir = lake(ntz)
    assert(footer(dataFiles(dir).head).getFileMetaData.getSchema.getType(0).toString
      .contains("TIMESTAMP(MICROS,false)"))
    for (zone <- Seq("UTC", "America/Los_Angeles"))
      withConf("spark.sql.session.timeZone" -> zone) {
        assert(footerJobs(dir, Key.MonthOf("ts")) == 0, zone)
      }
  }

  test("a multi-row-group file: the bounds span every row group") {
    val dir = lake(spark.range(20000).select(col("id"),
        date_add(lit("1995-01-01").cast("date"), (col("id") / 50).cast("int")).as("d"))
      .coalesce(1), options = Map("parquet.block.size" -> "4096"))
    assert(footer(dataFiles(dir).head).getBlocks.size > 1, "expected several row groups")
    assert(footerJobs(dir, Key.MonthOf("d")) == 0)
    assert(footerJobs(dir, Key.Stored("id")) == 0)
  }

  test("a zero-row file: n_rows 0 and null bounds from its footer, as the aggregation seeds it") {
    val dir = lake(days)
    lake(days.filter(lit(false)).coalesce(1), Some(dir))
    assert(dataFiles(dir).exists(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum == 0))
    assert(footerJobs(dir, Key.MonthOf("d")) == 0)
  }

  test("null keys: a file with some nulls and a file of only nulls") {
    val dir = lake(days.select(col("id"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("d")).as("d"),
      when(col("id") % 4 === 0, lit(null)).otherwise(col("id")).as("k")))
    lake(spark.range(50).select(col("id"), lit(null).cast("date").as("d"),
      lit(null).cast("long").as("k")).coalesce(1), Some(dir))
    assert(footerJobs(dir, Key.MonthOf("d")) == 0)
    assert(footerJobs(dir, Key.Stored("k")) == 0)
  }

  test("a file the footer cannot serve takes the aggregation (statistics off, INT96, a partition column) and gives the same rows") {
    val dir = lake(days)
    // parquet-hadoop's writer with statistics disabled
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int32 d (DATE); }")
    val file = new Path(dir, "part-nostats.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withStatisticsEnabled(false).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 100).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("d", 9500 + i))
    } finally w.close()
    assert(footer(file).getBlocks.get(0).getColumns.asScala.forall(
      c => !c.getStatistics.hasNonNullValue))
    // one aggregation job over just the unserved file
    assert(footerJobs(dir, Key.MonthOf("d")) > 0)
    assert(footerJobs(dir, Key.Stored("id")) > 0)
    assert(footerJobs(dir, Key.Stored("id"), Some(dataFiles(dir).filterNot(_ == file)
      .map(_.toString))) == 0)

    // Spark's default TIMESTAMP encoding, INT96, has no ordered statistics
    val int96 = lake(spark.range(100).select(
      timestamp_seconds(lit(817000000L) + col("id") * 86400L).as("ts")).coalesce(2))
    assert(footerJobs(int96, Key.MonthOf("ts")) > 0)

    // a directory-derived key is in no footer
    val parted = Files.createTempDirectory("graft-stats-part").toString + "/lake"
    spark.range(100).select(col("id"), (lit(199501L) + col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(parted)
    assert(footerJobs(parted, Key.Stored("k")) > 0)
  }
}
