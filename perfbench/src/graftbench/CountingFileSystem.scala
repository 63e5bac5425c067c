package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `file://` with every metadata operation counted, for the traced run.
  * Installed with `spark.hadoop.fs.file.impl`; each override counts and then
  * calls `super`, so checksum, rename and delete semantics are those of
  * [[LocalFileSystem]]. Hadoop's own storage statistics on `file://` count
  * bytes only, which is why this exists.
  *
  * Operations are attributed by path root: the benchmark registers each root
  * it creates (status store, manifest log, ingest log, lake, backup data,
  * queried backup) under a category name; anything else is `other`. Only
  * outermost calls count, so `exists` reaching `getFileStatus` is one op.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[T](op: String, p: Path)(f: => T): T = {
    val d = depth.get
    if (d == 0) record(op, p)
    depth.set(d + 1)
    try f finally depth.set(d)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f) {
      countBytes(f, super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress))
    }

  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f) {
      countBytes(f, super.createNonRecursive(f, permission, overwrite,
        bufferSize, replication, blockSize, progress))
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open", f) { super.open(f, bufferSize) }

  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", src) { super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete", f) { super.delete(f, recursive) }

  override def mkdirs(f: Path): Boolean =
    counted("mkdirs", f) { super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs", f) { super.mkdirs(f, permission) }

  override def listStatus(f: Path): Array[FileStatus] =
    counted("list", f) { super.listStatus(f) }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    counted("list", f) { super.listLocatedStatus(f) }

  override def getFileStatus(f: Path): FileStatus =
    counted("stat", f) { super.getFileStatus(f) }

  override def exists(f: Path): Boolean =
    counted("stat", f) { super.exists(f) }

  private def countBytes(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    val bytes = counter(categoryOf(f), "bytes_written")
    new FSDataOutputStream(new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit = { out.write(b); bytes.incrementAndGet(); () }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); bytes.addAndGet(len.toLong); ()
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
  }
}

object CountingFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  @volatile private var roots: Seq[(String, String)] = Seq.empty

  /** Attribute operations under `dir` (and its `file:` form) to `category`.
    * The longest registered root wins.
    */
  def register(dir: String, category: String): Unit = synchronized {
    val p = new Path(dir).toUri.getPath.stripSuffix("/")
    roots = ((p -> category) +: roots.filterNot(_._1 == p)).sortBy(-_._1.length)
  }

  def categoryOf(f: Path): String = {
    val p = f.toUri.getPath
    roots.collectFirst {
      case (root, cat) if p == root || p.startsWith(root + "/") => cat
    }.getOrElse("other")
  }

  private def counter(category: String, op: String): AtomicLong =
    counters.computeIfAbsent(s"$category.$op", _ => new AtomicLong())

  private def record(op: String, f: Path): Unit = {
    counter(categoryOf(f), op).incrementAndGet(); ()
  }

  /** Current totals, keyed `category.op` (ops and `bytes_written`). */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.get }.toMap
  }

  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      .filter(_._2 != 0L)
}
