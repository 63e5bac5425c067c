package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftx.{Nullable, ParquetFooterSchema}
import org.apache.spark.sql.types._

/** A driver-side `FileIndex` over a table partitioned by one integer
  * column whose partitions are GIVEN, not discovered: `<root>/<column>=<v>`
  * for each of `values`. Spark's own index lists every `col=` dir of the
  * root when a relation is created, in a distributed job once the root has
  * more than `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * children; this one evaluates the partition filters against `values` on
  * the driver and lists only the dirs that survive, each at most once per
  * index. A dir that does not exist is an empty partition, and a dir
  * outside `values` is never seen.
  *
  * What a query sees is what Spark's index over the same dirs gives:
  * hidden names (`_`/`.`: `_SUCCESS`, `.crc`, staging dirs) are dropped,
  * empty files are not read, the column is an INT when every value fits in
  * one (else a BIGINT), and [[sizeInBytes]] is the length of every data
  * file, unpruned — the statistic join planning reads. Only that statistic
  * and [[inputFiles]] list every partition, one driver listing per dir.
  * Two indexes over the same root, column and values are equal, as two
  * of Spark's indexes over the same root are, so a cached read is reused.
  */
final class PartitionIndex(spark: SparkSession, root: Path, column: String,
    values: Seq[Long]) extends FileIndex {

  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val listed = new ConcurrentHashMap[Long, Seq[FileStatus]]()

  override val rootPaths: Seq[Path] = Seq(fs.makeQualified(root))

  private val key = (rootPaths.head, column, values.toSet)

  override def equals(o: Any): Boolean = o match {
    case i: PartitionIndex => i.key == key
    case _ => false
  }

  override def hashCode: Int = key.hashCode

  override val partitionSchema: StructType = StructType(Seq(StructField(column,
    if (values.forall(_.isValidInt)) IntegerType else LongType)))

  private def row(v: Long): InternalRow =
    InternalRow(if (partitionSchema.head.dataType == IntegerType) v.toInt else v)

  /** The files directly under partition `v`'s dir that are not hidden,
    * with their block locations, as Spark's index lists them: a located
    * listing (one call per dir on HDFS), except on a local filesystem, where
    * a located status would look up each file's permissions by launching a
    * process; there each status is built from the file's length and block
    * locations. One listing, the first time it is asked.
    */
  private def files(v: Long): Seq[FileStatus] = listed.computeIfAbsent(v, _ => {
    val dir = new Path(rootPaths.head, s"$column=$v")
    val all =
      try fs match {
        case _: LocalFileSystem | _: RawLocalFileSystem => fs.listStatus(dir).toSeq
        case _ =>
          val it = fs.listLocatedStatus(dir)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus).toSeq
      } catch { case _: FileNotFoundException => Seq.empty }
    all.collect {
      case f if f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith(".") => f match {
        case located: LocatedFileStatus => located
        case _ =>
          new LocatedFileStatus(f.getLen, false, f.getReplication, f.getBlockSize,
            f.getModificationTime, 0L, null, null, null, null, f.getPath,
            fs.getFileBlockLocations(f, 0L, f.getLen))
      }
    }
  })

  /** `values` that satisfy the filters over the partition column. */
  private def selected(filters: Seq[Expression]): Seq[Long] =
    filters.filter(_.references.forall(_.name == column)).reduceOption(And) match {
      case None => values
      case Some(f) =>
        val p = Predicate.createInterpreted(f.transform {
          case _: AttributeReference =>
            BoundReference(0, partitionSchema.head.dataType, nullable = true)
        })
        values.filter(v => p.eval(row(v)))
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    selected(partitionFilters).map(v => PartitionDirectory(row(v),
      files(v).filter(_.getLen > 0).toArray))

  override def inputFiles: Array[String] =
    values.flatMap(files).map(_.getPath.toString).toArray

  override def sizeInBytes: Long = values.flatMap(files).map(_.getLen).sum

  override def refresh(): Unit = listed.clear()
}

object PartitionIndex {

  /** The relation over [[PartitionIndex]] in the file format a
    * `spark.read.format(format)` load reads with. Its data schema is one
    * file's, read on the driver: the first non-empty file of the newest
    * partition that has one (parquet from the footer, because parquet
    * inference would run a job; every other format through its own
    * inference), made nullable as a load's is. Fails naming `root` when no
    * partition has a file.
    */
  def read(spark: SparkSession, root: String, column: String, values: Seq[Long],
      format: String): DataFrame = {
    val index = new PartitionIndex(spark, new Path(root), column, values)
    val fileFormat = DataSource(spark, className = format).providingClass
      .getConstructor().newInstance().asInstanceOf[FileFormat]
    val sample = values.sorted.reverseIterator.flatMap(index.files).find(_.getLen > 0)
      .getOrElse(throw new FileNotFoundException(
        s"nothing to read under $root: none of its ${values.size} partitions has a file"))
    val dataSchema = fileFormat match {
      case _: ParquetFileFormat => ParquetFooterSchema.of(spark, sample.getPath)
      case f => f.inferSchema(spark, Map.empty, Seq(sample)).getOrElse(
        throw new IllegalStateException(s"no schema in ${sample.getPath}"))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      Nullable(dataSchema), None, fileFormat, Map.empty)(spark))
  }
}
