package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{BackupStatus, StatusStore}
import graft.sources.{DriverParquet, ManifestLog}

/** The driver-side metadata reader returns exactly the rows (and schema)
  * of `spark.read.parquet(...)` for every file shape the status store and
  * manifest log keep at rest, and fails loudly on a type it cannot decode;
  * what the driver-side writer writes reads back the same through both.
  */
class DriverParquetSpec extends SparkSpec with JobCount {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = org.apache.hadoop.fs.FileSystem.get(conf)

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** Driver rows of `dirs` equal Spark's rows of the same dirs. */
  private def assertSameAsSpark(dirs: Seq[String]): Unit = {
    val files = dirs.flatMap(d => DriverParquet.files(fs, new Path(d)))
    assert(files.nonEmpty, s"no data files under $dirs")
    val df = spark.read.parquet(dirs: _*)
    val got = DriverParquet.read(conf, files)
    assert(sorted(got) == sorted(df.collect().toSeq))
    assert(DriverParquet.schema(conf, files.head) == df.schema)
    // the values compare equal as Rows too (not only as strings)
    assert(got.toSet == df.collect().toSet)
  }

  private val statusRows = {
    val t = new Timestamp(1234567891234L)
    Seq(
      BackupStatus("t1", "db", t, None, "month_sid", 199501L, isComplete = false, 4),
      BackupStatus("t1", "db", t, Some(new Timestamp(1234567899999L)), "month_sid",
        199502L, isComplete = true, 4),
      BackupStatus("t2", null, new Timestamp(-86400000L), None, "", 0L,
        isComplete = false, 1))
  }

  private def gens(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("gen-"))
      .map(g => s"$dir/$g").toSeq

  test("a driver-written (writeGen) status generation reads as Spark reads it") {
    val dir = Files.createTempDirectory("graft-dp-gen").toString
    new StatusStore(spark, dir).writeRows(statusRows)
    assertSameAsSpark(gens(dir))
    assert(new StatusStore(spark, dir).rows().toSet == statusRows.toSet)
  }

  test("a Spark-written status generation (INT96 timestamps) reads as Spark reads it") {
    val dir = Files.createTempDirectory("graft-dp-sgen").toString
    import spark.implicits._
    val gen = s"$dir/gen-1-1"
    spark.createDataset(statusRows).coalesce(1).write.parquet(gen)
    assertSameAsSpark(Seq(gen))
    // and the store decodes it into the same status rows
    val ptr = fs.create(new Path(dir, "_CURRENT"), true)
    try ptr.write("gen-1-1".getBytes("UTF-8")) finally ptr.close()
    assert(new StatusStore(spark, dir).rows().toSet == statusRows.toSet)
  }

  private val manifestSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("min_pid", LongType, nullable = true),
    StructField("max_pid", LongType, nullable = true)))

  private def manifestRows(rs: (String, Long, java.lang.Long, java.lang.Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rs.map { case (f, n, lo, hi) => Row(f, n, lo, hi) }.asJava,
      manifestSchema)
  }

  test("a manifest delta with null bounds and tombstones, and a bucketed checkpoint, read as Spark reads them") {
    val dir = Files.createTempDirectory("graft-dp-mlog").toString
    val log = new ManifestLog(spark, s"$dir/m")
    log.commitDelta(manifestRows(
      ("/a.parquet", 10L, 199501L, 199506L),
      ("/b.parquet", 0L, null, null),
      ("/c.parquet", 7L, 199807L, 199902L)), Seq("/gone.parquet"))
    assertSameAsSpark(Seq(s"$dir/m/delta-0"))
    val delta = DriverParquet.read(conf, DriverParquet.files(fs, new Path(s"$dir/m/delta-0")))
    assert(delta.count(_.getAs[Boolean]("tombstone")) == 1)
    assert(delta.exists(r => r.isNullAt(r.fieldIndex("min_pid"))))
    // projection and early stop
    val proj = DriverParquet.read(conf, DriverParquet.files(fs, new Path(s"$dir/m/delta-0")),
      Seq("tombstone", "file"), limit = 2)
    assert(proj.size == 2 && proj.head.schema.fieldNames.toSeq == Seq("tombstone", "file"))

    log.checkpoint()
    val buckets = new java.io.File(s"$dir/m/checkpoint").listFiles()
      .filter(_.getName.startsWith("pb=")).map(_.getPath).toSeq
    assert(buckets.size >= 2, s"expected a bucketed checkpoint: $buckets")
    val files = buckets.flatMap(b => DriverParquet.files(fs, new Path(b)))
    val want = spark.read.parquet(s"$dir/m/checkpoint").drop("pb")
    assert(sorted(DriverParquet.read(conf, files)) == sorted(want.collect().toSeq))
    assert(DriverParquet.schema(conf, files.head) == want.schema)
  }

  test("DriverParquet.write: every supported type, nulls and non-nullable columns read back the same through DriverParquet.read and spark.read") {
    val dir = Files.createTempDirectory("graft-dp-write").toString
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("i", IntegerType, nullable = false), StructField("l", LongType),
      StructField("d", DoubleType), StructField("t", TimestampType)))
    val rows = Seq(
      Row("a", true, 1, 10L, 1.5, new Timestamp(1234567891234L)),
      Row(null, null, -2, null, null, null),
      Row("", false, Int.MaxValue, Long.MinValue, -0.25, new Timestamp(-86400000L)))
    val fs = DriverParquet.metadataFs(new Path(dir), conf)
    val (_, jobs) = jobsOf(DriverParquet.write(fs, new Path(s"$dir/out"), schema, rows))
    assert(jobs == 0)
    assert(new java.io.File(s"$dir/out").list().toSeq.sorted ==
      Seq("_SUCCESS", "part-00000.snappy.parquet"), "one part file, no .crc sibling")
    assertSameAsSpark(Seq(s"$dir/out"))
    assert(sorted(DriverParquet.read(conf, DriverParquet.files(fs, new Path(s"$dir/out")))) ==
      sorted(rows))

    val bad = StructType(Seq(StructField("id", LongType), StructField("day", DateType)))
    val e = intercept[UnsupportedOperationException](
      DriverParquet.write(fs, new Path(s"$dir/bad"), bad, Seq(Row(1L, null))))
    assert(e.getMessage.contains("day"), e.getMessage)
    assert(!fs.exists(new Path(s"$dir/bad")), "nothing is written for an unsupported type")
    val e2 = intercept[IllegalArgumentException](
      DriverParquet.write(fs, new Path(s"$dir/null"), schema, Seq(Row("x", true, null, 1L, 1.0, null))))
    assert(e2.getMessage.contains("`i`"), e2.getMessage)
  }

  test("a manifest delta is written on the driver: no Spark job, and spark.read sees its rows, null bounds and tombstones") {
    val dir = Files.createTempDirectory("graft-dp-delta").toString
    val log = new ManifestLog(spark, s"$dir/m")
    val adds = manifestRows(("/a.parquet", 10L, 199501L, 199506L), ("/b.parquet", 0L, null, null))
    val (seq, jobs) = jobsOf(log.commitDelta(adds, Seq("/gone.parquet")))
    assert(seq.contains(0L) && jobs == 0, s"commitDelta ran $jobs Spark jobs")
    val delta = s"$dir/m/delta-0"
    assertSameAsSpark(Seq(delta))
    val want = adds.withColumn("tombstone", lit(false)).collect().toSeq :+
      Row("/gone.parquet", 0L, null, null, true)
    assert(sorted(spark.read.parquet(delta).collect().toSeq) == sorted(want))
  }

  test("a column of an unsupported type fails loudly, naming the column") {
    val dir = Files.createTempDirectory("graft-dp-bad").toString
    spark.range(3).select(col("id"), col("id").cast("decimal(10,2)").as("amount"))
      .coalesce(1).write.parquet(s"$dir/d")
    val files = DriverParquet.files(fs, new Path(s"$dir/d"))
    val e = intercept[UnsupportedOperationException](DriverParquet.read(conf, files))
    assert(e.getMessage.contains("amount"), e.getMessage)
    val e2 = intercept[UnsupportedOperationException](DriverParquet.schema(conf, files.head))
    assert(e2.getMessage.contains("amount"), e2.getMessage)
    // a projection that leaves the column out reads fine
    assert(DriverParquet.read(conf, files, Seq("id")).map(_.getLong(0)).sorted == Seq(0L, 1L, 2L))
  }

  test("a lake file's schema bound from its footer on the driver equals the schema spark.read.parquet infers") {
    val dir = Files.createTempDirectory("graft-dp-footer").toString
    import spark.implicits._
    spark.createDataset(statusRows).coalesce(1).write.parquet(s"$dir/int96")
    spark.range(3).select(col("id"), col("id").cast("decimal(10,2)").as("amount"),
        current_date().as("d"), array(col("id")).as("xs"))
      .coalesce(1).write.parquet(s"$dir/mixed")
    Tables.orders(spark, sf).limit(50).coalesce(1).write.parquet(s"$dir/orders")
    for (d <- Seq("int96", "mixed", "orders")) {
      val f = DriverParquet.files(fs, new Path(s"$dir/$d")).head.getPath
      // bound the way a drain binds it: the footer's data schema given to
      // a one-file read (no inference job)
      val bound = spark.read.schema(org.apache.spark.sql.graftx.ParquetFooterSchema.of(spark, f))
        .parquet(f.toString).schema
      assert(bound == spark.read.parquet(f.toString).schema, d)
    }
  }
}
