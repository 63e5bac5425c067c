package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopStreams}
import org.apache.parquet.io.OutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation => L, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Driver-side reader and writer for the small flat parquet files of the
  * ETL's own metadata stores (status generations, manifest deltas, bucketed
  * manifest checkpoints). `spark.read.parquet(dir).collect()` schedules a
  * schema-inference job plus a scan job for a KB-sized file, and
  * `df.coalesce(1).write.parquet(dir)` a write job; at the per-drain
  * cadence those jobs were the drain's fixed cost. This reads and writes
  * the same rows through parquet-hadoop on the calling thread.
  *
  * Values come back exactly as `spark.read.parquet(...).collect()` returns
  * them (all fields nullable, like every Spark file-source read), for the
  * column types these stores hold: string, boolean, int, long, double, and
  * timestamps both as UTC-adjusted INT64 micros and as the INT96 Spark's
  * writer emits. Any other type (decimal, binary, date, nested, legacy
  * calendar-rebased timestamps, ...) fails loudly, naming the column —
  * never a silently different value. [[write]] emits the same types.
  */
object DriverParquet {

  private val metadataFss = new java.util.concurrent.ConcurrentHashMap[java.net.URI, FileSystem]()

  /** The checksum-off FileSystem of `path`'s filesystem, one instance per
    * filesystem URI, for the metadata stores. Their writes are KB-sized
    * mutations whose cost is fs operations, not bytes: on a checksummed
    * local fs every created file spawns a `.crc` sibling, doubling the
    * creates. `newInstance` keeps the setting off the JVM-shared cached
    * FileSystem that Spark's own jobs use. Deletes and renames still clean
    * up `.crc` siblings left by older writers, and readers skip
    * verification when no checksum file exists.
    */
  def metadataFs(path: Path, conf: Configuration): FileSystem =
    metadataFss.computeIfAbsent(path.getFileSystem(conf).getUri, { uri =>
      val fs = FileSystem.newInstance(uri, conf)
      fs.setWriteChecksum(false)
      fs
    })

  /** Parquet data files directly under `dir`, in name order; names starting
    * with `_` or `.` (committer markers, checksums) are skipped, as Spark's
    * file index skips them. A missing `dir` throws `FileNotFoundException`.
    */
  def files(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName)

  /** The Spark schema of one file, from its footer. */
  def schema(conf: Configuration, file: FileStatus): StructType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try {
      val meta = r.getFooter.getFileMetaData
      decoders(meta.getSchema, meta.getKeyValueMetaData.keySet.asScala)._1
    } finally r.close()
  }

  /** The row count of one file, from its footer. */
  def rowCount(conf: Configuration, file: FileStatus): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try r.getRecordCount finally r.close()
  }

  /** The rows of `files`, projected to `columns` (every column when empty),
    * stopping once `limit` rows are read — later files are never opened.
    * Every file must have the same schema.
    */
  def read(conf: Configuration, files: Seq[FileStatus], columns: Seq[String] = Nil,
      limit: Int = Int.MaxValue): IndexedSeq[Row] = {
    val out = IndexedSeq.newBuilder[Row]
    var n = 0
    var first: Option[StructType] = None
    val it = files.iterator
    while (n < limit && it.hasNext) {
      val file = it.next()
      val support = new Projection(columns, file.getPath)
      val reader = ParquetReader.builder(support, file.getPath).withConf(conf).build()
      try {
        var g = reader.read() // opens the footer: `support` now holds the schema
        val st = support.schema
        first match {
          case Some(s) if s != st =>
            throw new IllegalStateException(
              s"${file.getPath}: schema ${st.simpleString} differs from ${s.simpleString}")
          case _ => first = Some(st)
        }
        while (g != null && n < limit) {
          val row = g
          out += new GenericRowWithSchema(
            Array.tabulate[Any](st.length)(i =>
              if (row.getFieldRepetitionCount(i) == 0) null else support.decode(i)(row, i)),
            st)
          n += 1
          if (n < limit) g = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }

  /** Write `rows` of `schema` into `dir` in the layout Spark's writer
    * produces for one task: one snappy part file, then `_SUCCESS`. Types
    * are those [[read]] decodes: string, boolean, int, long, double, and
    * timestamps as UTC-adjusted INT64 micros. A nullable field is
    * `optional` and a non-nullable one `required`, as Spark lays them out,
    * so `read` and `spark.read.parquet` return `rows`. Any other type
    * throws naming the column, before anything is written. The files are
    * created through `fs`, so a [[metadataFs]] writes no `.crc` sibling.
    */
  def write(fs: FileSystem, dir: Path, schema: StructType, rows: Iterable[Row]): Unit = {
    val (types, add) = schema.fields.toIndexedSeq.map(writeField).unzip
    val message = new MessageType("spark_schema", types.asJava)
    val file = new Path(dir, "part-00000.snappy.parquet")
    // through `fs` itself: HadoopOutputFile would resolve the JVM-cached fs
    val sink = new OutputFile {
      private def open(overwrite: Boolean) = HadoopStreams.wrap(fs.create(file, overwrite))
      def create(blockSizeHint: Long) = open(false)
      def createOrOverwrite(blockSizeHint: Long) = open(true)
      def supportsBlockSize() = false
      def defaultBlockSize() = 0L
      override def getPath = file.toString
    }
    val factory = new SimpleGroupFactory(message)
    val w = ExampleParquetWriter.builder(sink).withType(message)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = factory.newGroup()
      add.indices.foreach { i =>
        if (!r.isNullAt(i)) add(i)(g, i, r.get(i))
        else if (!schema(i).nullable) throw new IllegalArgumentException(
          s"column `${schema(i).name}` is not nullable, but a row holds null")
      }
      w.write(g)
    } finally w.close()
    fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  /** The parquet field of `f` and the appender of its non-null values. */
  private def writeField(f: StructField): (Type, (Group, Int, Any) => Unit) = {
    val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    def prim(t: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName) =
      Types.primitive(t, rep)
    val (t, add) = f.dataType match {
      case StringType =>
        (prim(BINARY).as(L.stringType()), (g: Group, i: Int, v: Any) => g.add(i, v.asInstanceOf[String]))
      case BooleanType => (prim(BOOLEAN), (g: Group, i: Int, v: Any) => g.add(i, v.asInstanceOf[Boolean]))
      case IntegerType => (prim(INT32), (g: Group, i: Int, v: Any) => g.add(i, v.asInstanceOf[Int]))
      case LongType => (prim(INT64), (g: Group, i: Int, v: Any) => g.add(i, v.asInstanceOf[Long]))
      case DoubleType => (prim(DOUBLE), (g: Group, i: Int, v: Any) => g.add(i, v.asInstanceOf[Double]))
      case TimestampType =>
        (prim(INT64).as(L.timestampType(true, L.TimeUnit.MICROS)), (g: Group, i: Int, v: Any) =>
          g.add(i, v match {
            case ts: java.sql.Timestamp => DateTimeUtils.fromJavaTimestamp(ts)
            case ts: java.time.Instant => DateTimeUtils.instantToMicros(ts)
          }))
      case other => throw new UnsupportedOperationException(
        s"column `${f.name}`: type ${other.simpleString} is not supported by the driver writer")
    }
    (t.named(f.name), add)
  }

  /** Group read support that projects to the requested columns and binds
    * their decoders once the reader opens the footer.
    */
  private final class Projection(columns: Seq[String], path: Path)
      extends GroupReadSupport {
    var schema: StructType = _
    var decode: IndexedSeq[(Group, Int) => Any] = _

    override def init(context: InitContext): ReadSupport.ReadContext = {
      val file = context.getFileSchema
      val keep =
        if (columns.isEmpty) file
        else {
          columns.foreach(c => if (!file.containsField(c))
            throw new IllegalArgumentException(s"$path has no column `$c`"))
          new MessageType(file.getName,
            columns.map(c => file.getType(file.getFieldIndex(c))).asJava)
        }
      val (st, d) = decoders(keep, context.getKeyValueMetadata.keySet.asScala)
      schema = st
      decode = d
      new ReadSupport.ReadContext(keep)
    }
  }

  /** Spark writer footer keys marking values rebased to the legacy hybrid
    * calendar; reading them would need the rebase Spark applies.
    */
  private[sources] val legacyCalendarKeys =
    Set("org.apache.spark.legacyINT96", "org.apache.spark.legacyDateTime")

  /** The Spark schema of `m` and one value decoder per column. */
  private def decoders(m: MessageType, footerKeys: collection.Set[String])
      : (StructType, IndexedSeq[(Group, Int) => Any]) = {
    val legacy = footerKeys.intersect(legacyCalendarKeys)
    val cols = m.getFields.asScala.toIndexedSeq.map { t =>
      val (dt, dec) = column(t)
      if (dt == TimestampType && legacy.nonEmpty)
        throw new UnsupportedOperationException(
          s"column `${t.getName}`: timestamps written with legacy calendar " +
            s"rebasing (${legacy.mkString(", ")}) are not supported by the driver reader")
      (StructField(t.getName, dt, nullable = true), dec)
    }
    (StructType(cols.map(_._1)), cols.map(_._2))
  }

  private def column(t: Type): (DataType, (Group, Int) => Any) = {
    def unsupported: Nothing = throw new UnsupportedOperationException(
      s"column `${t.getName}`: parquet type `$t` is not supported by the driver reader")
    if (!t.isPrimitive || t.isRepetition(Type.Repetition.REPEATED)) unsupported
    val ann = t.asPrimitiveType.getLogicalTypeAnnotation
    def plainInt(bits: Int) = ann == null || (ann match {
      case i: L.IntLogicalTypeAnnotation => i.getBitWidth == bits && i.isSigned
      case _ => false
    })
    t.asPrimitiveType.getPrimitiveTypeName match {
      case BINARY if ann == L.stringType() => (StringType, _.getString(_, 0))
      case BOOLEAN if ann == null => (BooleanType, _.getBoolean(_, 0))
      case INT32 if plainInt(32) => (IntegerType, _.getInteger(_, 0))
      case INT64 if plainInt(64) => (LongType, _.getLong(_, 0))
      case DOUBLE if ann == null => (DoubleType, _.getDouble(_, 0))
      case INT64 => ann match {
        case ts: L.TimestampLogicalTypeAnnotation
            if ts.isAdjustedToUTC && ts.getUnit == L.TimeUnit.MICROS =>
          (TimestampType, (g, i) => DateTimeUtils.toJavaTimestamp(g.getLong(i, 0)))
        case _ => unsupported
      }
      case INT96 if ann == null =>
        // 8 bytes nanos-of-day, then 4 bytes Julian day, both little-endian
        (TimestampType, { (g, i) =>
          val b = g.getInt96(i, 0).toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = b.getLong
          DateTimeUtils.toJavaTimestamp(DateTimeUtils.fromJulianDay(b.getInt, nanos))
        })
      case _ => unsupported
    }
  }
}
