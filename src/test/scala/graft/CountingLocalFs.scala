package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}

/** The local filesystem under the private scheme `countfs:`, counting the
  * listings and stats each path gets — the fake-filesystem idiom of
  * Spark's own suites. Registered with `fs.countfs.impl`, so only paths a
  * test writes as `countfs:///...` reach it. Only outermost calls count:
  * `exists` reaching `getFileStatus` is one stat.
  */
class CountingLocalFs extends RawLocalFileSystem {
  import CountingLocalFs.counted

  override def getUri: URI = URI.create(s"${CountingLocalFs.Scheme}:///")

  override def listStatus(f: Path): Array[FileStatus] =
    counted("list", f)(super.listStatus(f))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted("list", f)(super.listLocatedStatus(f))

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    counted("list", f)(super.listStatusIterator(f))

  override def getFileStatus(f: Path): FileStatus =
    counted("stat", f)(super.getFileStatus(f))

  override def exists(f: Path): Boolean =
    counted("stat", f)(super.exists(f))
}

object CountingLocalFs {
  val Scheme = "countfs"

  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  private def key(op: String, path: String): String = s"$op ${path.stripSuffix("/")}"

  private def counted[T](op: String, f: Path)(body: => T): T = {
    val d = depth.get
    if (d == 0) counts.computeIfAbsent(key(op, f.toUri.getPath), _ => new AtomicInteger())
      .incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** Register the scheme in the session's Hadoop conf. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CountingLocalFs].getName)

  def reset(): Unit = counts.clear()

  /** `op` ("list" or "stat") calls on the local path `path` since [[reset]]. */
  def count(op: String, path: String): Int =
    Option(counts.get(key(op, path))).fold(0)(_.get)
}
