package graftbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Self-test of [[CountingFileSystem]], run by `perfbench/tests/test_fs_counter.py`:
  * installed through `spark.hadoop.fs.file.impl`, writing k files shows k
  * creates under their root, and checksums, renames and deletes behave as on
  * the stock local filesystem. Exits non-zero on the first failed check.
  */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAIL $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath.toString
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .getOrCreate()
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = FileSystem.get(new java.net.URI("file:///"), conf)
      check(fs.isInstanceOf[CountingFileSystem], s"file:// resolves to ${fs.getClass}")
      val root = s"$dir/written"
      CountingFileSystem.register(root, "selftest")
      val k = 7
      val before = CountingFileSystem.snapshot()
      (0 until k).foreach { i =>
        val out = fs.create(new Path(s"$root/f-$i"), true)
        out.write(Array.fill[Byte](10)(i.toByte)); out.close()
      }
      val d = CountingFileSystem.delta(before, CountingFileSystem.snapshot())
      check(d.getOrElse("selftest.create", 0L) == k, s"$k files gave creates ${d.get("selftest.create")}")
      check(d.getOrElse("selftest.bytes_written", 0L) == 10L * k, s"bytes written $d")
      check(!d.keys.exists(_.startsWith("other.")), s"operations outside the root: $d")
      // checksums as on LocalFileSystem: a .crc sibling per file, verified on read
      check(Files.exists(Paths.get(s"$root/.f-0.crc")), "no checksum file written")
      val in = fs.open(new Path(s"$root/f-3"))
      check(in.read() == 3, "read back wrong byte"); in.close()
      // rename moves the checksum with the file; delete removes both
      check(fs.rename(new Path(s"$root/f-0"), new Path(s"$root/g-0")), "rename failed")
      check(Files.exists(Paths.get(s"$root/.g-0.crc")) &&
        !Files.exists(Paths.get(s"$root/.f-0.crc")), "rename left the checksum behind")
      check(fs.delete(new Path(s"$root/g-0"), false), "delete failed")
      check(!Files.exists(Paths.get(s"$root/.g-0.crc")), "delete left the checksum behind")
      check(fs.exists(new Path(s"$root/f-1")) && !fs.exists(new Path(s"$root/g-0")),
        "exists disagrees with the directory")
      // Spark's own writes go through it too: one data file per task
      val out = s"$dir/spark-out"
      CountingFileSystem.register(out, "spark")
      val b2 = CountingFileSystem.snapshot()
      spark.range(0, 1000, 1, 3).write.parquet(out)
      val d2 = CountingFileSystem.delta(b2, CountingFileSystem.snapshot())
      val parts = Files.list(Paths.get(out)).toArray.count(_.toString.endsWith(".parquet"))
      check(parts == 3, s"spark wrote $parts files")
      check(d2.getOrElse("spark.create", 0L) >= parts + 1, s"spark write creates $d2")
      check(spark.read.parquet(out).count() == 1000L, "spark read-back count")
      println(s"selftest ok: $k files -> ${d("selftest.create")} creates; spark write $d2")
    } finally spark.stop()
  }
}
