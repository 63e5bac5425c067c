package graft.sources

import java.time.{LocalDate, ZoneId, ZoneOffset}

import scala.jdk.CollectionConverters._
import scala.language.implicitConversions

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation => L, PrimitiveType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.ParquetFooterSchema
import org.apache.spark.sql.types._

import graft.operators.ReferenceOps

/** File-statistics store for data skipping — the manifest-pruning device of
  * lakehouse table formats, built on public Spark primitives: per data
  * file, the row count and the `[min, max]` of each declared key; the
  * manifest is persisted next to the data, and range reads consult it to
  * open only files whose interval intersects the predicate.
  *
  * A file's stats come from its parquet footer, read on the driver: the
  * row count, plus the key column's min and max over all row groups — no
  * Spark job. That needs the key's shape ([[StatsStore.Key]]): a stored
  * integer column, or the month of a stored date or timestamp column.
  * A file whose footer cannot give a key's bounds (a row group without
  * statistics, a key column the footer does not hold — a directory-derived
  * partition column —, or a key that is any other expression) is
  * aggregated instead: one scan of just those files computes per-file
  * (count, min, max) via `input_file_name()`. Both paths give the same
  * rows.
  *
  * Pairs with [[ZOrder]]: the layout makes per-file ranges tight on both
  * curve columns, the manifest turns those ranges into skipped IO. At
  * 100 TB a point/range query costs a manifest scan (one row per file)
  * plus the surviving files — not a full-table scan. Pruning is a superset
  * guarantee: Spark still applies the predicate to the rows it reads, so a
  * conservative manifest is always correct.
  *
  * The surviving-file list is driver-side, bounded by the file count —
  * the same discipline as the reference's partition lists (SCALE.md).
  */
object StatsStore {

  /** The shape of a stats key: how each row's key value derives from the
    * file's stored columns. The shape decides whether a footer can give
    * the key's bounds; [[column]] is the same key as an expression, which
    * the aggregation computes. Bounds are longs for both footer shapes.
    */
  sealed trait Key {
    def column: Column
  }

  object Key {

    /** A stored integer or long column. */
    final case class Stored(name: String) extends Key {
      def column: Column = col(name).cast(LongType)
    }

    /** `ReferenceOps.monthSid` (`year * 100 + month`) of a stored DATE,
      * TIMESTAMP or TIMESTAMP_NTZ column. It never decreases as the date
      * grows, so the months of the footer's min and max are exactly the
      * file's month interval. TIMESTAMP values fall into the months of the
      * session time zone, as `year()` and `month()` see them.
      */
    final case class MonthOf(name: String) extends Key {
      def column: Column = ReferenceOps.monthSid(col(name))
    }

    /** Any other expression: its stats are always aggregated. */
    final case class Expr(column: Column) extends Key

    /** Keys given as plain columns are [[Expr]] keys. */
    implicit def fromColumns(keys: Seq[(String, Column)]): Seq[(String, Key)] =
      keys.map { case (n, c) => n -> Expr(c) }
  }

  /** The materialized refresh diff: stats rows for files that appeared
    * (zero-row files seeded) and stored paths of files that vanished.
    */
  final case class ManifestDiff(adds: DataFrame, dead: Seq[String])

  /** Test instrumentation: full recursive lake listings performed since
    * process start. The ingest-journal drain path's contract is ZERO new
    * full listings at steady state; specs assert this counter.
    */
  private[graft] val fullListings = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Recursively list the data files under `dir` the way
    * `spark.read.parquet(dir)`'s partition discovery sees them: descend
    * into subdirectories (partitioned layouts — `pid=…/`, `date=…/`) and
    * skip `_`/`.`-prefixed names at every level (committer metadata,
    * hidden swap markers). This is the append path's FILE UNIVERSE, and it
    * must equal the read side's: the r7 hazard was a non-recursive listing
    * that saw only top-level files, so on a partitioned lake every nested
    * file failed the existence check, was evicted as dead, and pruned
    * copies silently skipped its rows.
    */
  private def listDataFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    val entries = fs.listStatus(dir).filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    entries.collect {
      case f if f.isFile && f.getPath.getName.endsWith(".parquet") => f.getPath
    }.toSeq ++
      entries.filter(_.isDirectory).flatMap(d => listDataFiles(fs, d.getPath))
  }

  /** Seed one manifest row per LISTED file that produced no stats row —
    * i.e. zero-row parquet files, which `groupBy(input_file_name())`
    * cannot see. Without the seed an empty file is re-classified as fresh
    * and re-scanned on EVERY refresh, and the manifest-rows == lake-files
    * invariant breaks. Seeded rows carry n_rows=0 and null min/max, so
    * [[survivingFiles]] never opens them (null bounds fail every interval
    * predicate — correct: an empty file has no rows to contribute).
    */
  private def seedEmptyFiles(spark: SparkSession,
      listed: Seq[String], stats: DataFrame): DataFrame = {
    // Collect the stats ONCE and return a localized relation: the earlier
    // shape collected just the file column for the seed check and left the
    // union lazy, so the caller's materialization executed the per-file
    // aggregation a second time — a full double scan of the lake per
    // manifest rebuild (r8 ADVICE). One row per file, driver-bounded by
    // the same contract as survivingFiles' result list.
    val schema = stats.schema
    val rows = stats.collect().toIndexedSeq
    val have = rows.map(r => canon(r.getString(0))).toSet
    val missing = listed.filterNot(f => have.contains(canon(f)))
    val seeded = rows ++ missing.map { f =>
      Row.fromSeq(f +: schema.fields.toSeq.tail.map(fd =>
        if (fd.name == "n_rows") 0L else null))
    }
    spark.createDataFrame(seeded.asJava, schema)
  }

  /** One stats row per data file: n_rows + min_c/max_c per column. */
  def collect(spark: SparkSession, dataPath: String, cols: Seq[String]): DataFrame = {
    val df = spark.read.parquet(dataPath)
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.select(input_file_name().as("file") +: cols.map(col): _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Stats rows for every data file under `dataPath` — the recursive
    * `listDataFiles` universe, zero-row files included — computed by
    * [[statsForFiles]], so a first manifest build takes the same footer
    * path as a refresh. Tight exactly when the key is monotone in the file
    * layout (time-ordered ingest makes a date-derived month key monotone
    * per file); correct for any key, since the read side still applies the
    * real predicate.
    */
  def collectExpr(spark: SparkSession, dataPath: String,
      keys: Seq[(String, Key)]): DataFrame = {
    fullListings.incrementAndGet()
    val root = new Path(dataPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    statsForFiles(spark, dataPath, keys, listDataFiles(fs, root).map(_.toString))
  }

  /** Canonical identity of a data-file path: the scheme-less path
    * component. `input_file_name()` yields `file:///x/part.parquet` while
    * Hadoop listings print `file:/x/part.parquet` and manifests may carry
    * either — a raw string compare silently treats every existing file as
    * NEW (re-scanned AND duplicated in the manifest, so a pruned read
    * opens it twice). Paths here never carry URI-escapable characters
    * (Spark's own output file names); the contract is enforced where
    * manifests are built.
    */
  private def canon(path: String): String =
    new Path(path).toUri.getPath

  /** [[canon]] as a Catalyst expression (the fold key of [[ManifestLog]]):
    * strips any `scheme:/+` prefix down to a single leading `/`, agreeing
    * with [[canon]] for the URI-safe paths manifests carry by contract.
    */
  private def canonExpr(c: Column) =
    regexp_replace(c, "^[a-z][a-z0-9+.\\-]*:/+", "/")

  /** Incremental manifest maintenance, as the diff a caller commits
    * (`ManifestLog.commitDelta`): stats rows for files not in `prior`, and
    * the prior paths that no longer exist (overwritten or compacted away),
    * so [[survivingFiles]] never returns a dead path once they are dropped.
    * The steady-state discipline at 100 TB, where each drain adds a
    * handful of files to a manifest covering years of history: stats are
    * read for the NEW files only, and history is never re-read; over an
    * unchanged directory the diff is empty.
    *
    * `candidates = Some(files)` supplies the new-file universe WITHOUT any
    * lake listing (the [[IngestLog]] path — dead detection is skipped, per
    * the journal's append-only contract). `None` performs the full
    * recursive listing (`listDataFiles`) and detects deads: partitioned
    * lake layouts (`pid=…/`, `date=…/`) then have the same file universe
    * as the full rebuild's `spark.read.parquet` — with a top-level-only
    * listing (the r7 hazard) every nested file was evicted as dead. Fresh
    * files are read with `basePath = dataPath`, so directory-derived
    * partition columns stay visible to the keys. `keys` and `schema`
    * (passed to [[statsForFiles]]) are evaluated only when a fresh file
    * needs stats.
    */
  def collectExprDiff(spark: SparkSession, dataPath: String,
      keys: => Seq[(String, Key)],
      prior: DataFrame,
      candidates: Option[Seq[String]],
      schema: => Option[StructType] = None): ManifestDiff = {
    val (universe, detectDead) = candidates match {
      case Some(c) => (c, false)
      case None =>
        fullListings.incrementAndGet()
        val fs = new Path(dataPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        (listDataFiles(fs, new Path(dataPath))
          .map(_.toString), true)
    }
    // fresh/dead by joining the listing against `prior` instead of
    // collecting its whole file column to the driver (the r9 verdict's
    // per-drain O(manifest-rows) materialization): the manifest side stays
    // distributed and only the DIFF (∝ actual change) is collected.
    import spark.implicits._
    val uniDf = universe.toDF("u_file")
      .withColumn("__ukey", canonExpr(col("u_file")))
    val priorKeys = prior.select(canonExpr(col("file")).as("__pkey"),
      col("file"))
    val onKey = uniDf("__ukey") === priorKeys("__pkey")
    val (fresh, dead) =
      if (detectDead) {
        // one shuffled full outer join: an unmatched listing row is fresh,
        // an unmatched manifest row is dead
        val d = uniDf.join(priorKeys, onKey, "full_outer")
          .filter(col("__ukey").isNull || col("__pkey").isNull)
          .select("u_file", "file").collect()
        (d.collect { case r if !r.isNullAt(0) => r.getString(0) }.toIndexedSeq,
          d.collect { case r if r.isNullAt(0) => r.getString(1) }.toIndexedSeq)
      } else {
        // the universe holds only the candidates, so every manifest row
        // is unmatched: a full outer join would collect the whole manifest
        (uniDf.join(priorKeys, onKey, "left_anti")
          .select("u_file").collect().map(_.getString(0)).toIndexedSeq,
          IndexedSeq.empty[String])
      }
    val adds =
      if (fresh.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[Row](),
          prior.schema)
      else statsForFiles(spark, dataPath, keys, fresh, schema)
    ManifestDiff(adds, dead)
  }

  /** Stats rows for a KNOWN-fresh file set, as a driver-local relation:
    * one row per file with `file`, `n_rows`, then `min_k`/`max_k` per key.
    * Each row comes from the file's footer (`footerRow`), read on the
    * driver; the files whose footer cannot give every key's bounds are
    * aggregated in one Spark job over just those files (`aggregate`),
    * and so are all files of a call with an [[Key.Expr]] key. `file` is
    * the string `input_file_name()` gives; a zero-row file keeps its
    * listed path and has null bounds, as the aggregation seeds it. For
    * the aggregation, `basePath = dataPath` keeps directory-derived
    * partition columns visible to the keys, and a known lake `schema`
    * (partition columns included) skips the read's schema inference — a
    * Spark job of its own. A file whose footer types differ from `schema`
    * is aggregated.
    */
  def statsForFiles(spark: SparkSession, dataPath: String,
      keys: Seq[(String, Key)], files: Seq[String],
      schema: Option[StructType] = None): DataFrame = {
    require(files.nonEmpty, "statsForFiles: empty file set")
    if (keys.exists(_._2.isInstanceOf[Key.Expr]))
      aggregate(spark, dataPath, keys, files, schema)
    else {
      val fs = new Path(dataPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val zone = sessionZone(spark)
      val fromFooter = files.map(f => f -> footerRow(spark, fs, f, keys, schema, zone))
      val rest = fromFooter.collect { case (f, None) => f }
      val rows = fromFooter.flatMap(_._2) ++
        (if (rest.isEmpty) Nil else aggregate(spark, dataPath, keys, rest, schema).collect().toSeq)
      spark.createDataFrame(rows.asJava, StructType(
        StructField("file", StringType, nullable = false) +:
          StructField("n_rows", LongType, nullable = false) +:
          keys.flatMap { case (n, _) =>
            Seq(StructField(s"min_$n", LongType), StructField(s"max_$n", LongType)) }))
    }
  }

  /** Per file of `files`, `key`'s `[min, max]` from its footer alone: one
    * footer open per file, on the driver, and never a Spark job. A zero-row
    * or all-null file has no interval (None). The whole answer is None as
    * soon as one footer cannot tell (`footerBounds`): the key's column is
    * missing from the file or from `schema`, its footer type differs from
    * `schema`'s, or a row group holding values has no min/max. `schema` is
    * the data schema of the relation that reads the files.
    */
  def footerIntervals(spark: SparkSession, files: Seq[String], key: Key,
      schema: StructType): Option[Seq[Option[(Long, Long)]]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val zone = sessionZone(spark)
    val rows = files.iterator.map { f =>
      footerRow(spark, new Path(f).getFileSystem(conf), f, Seq("k" -> key), Some(schema), zone)
    }.takeWhile(_.isDefined).flatten.toSeq
    if (rows.size < files.size) None
    else Some(rows.map(r => if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))))
  }

  private def sessionZone(spark: SparkSession): ZoneId =
    DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))

  /** Stats rows of `files` computed by one Spark job: the keys grouped by
    * `input_file_name()`, zero-row files seeded.
    */
  private def aggregate(spark: SparkSession, dataPath: String,
      keys: Seq[(String, Key)], files: Seq[String],
      schema: Option[StructType]): DataFrame = {
    val reader = schema.fold(spark.read)(spark.read.schema(_))
    val df = reader.option("basePath", dataPath).parquet(files.toIndexedSeq: _*)
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      keys.flatMap { case (n, _) =>
        Seq(min(col(n)).as(s"min_$n"), max(col(n)).as(s"max_$n")) }
    val add = df.select(input_file_name().as("file") +:
        keys.map { case (n, k) => k.column.as(n) }: _*)
      .groupBy(col("file"))
      .agg(aggs.head, aggs.tail: _*)
    seedEmptyFiles(spark, files.toIndexedSeq, add)
  }

  /** One file's stats row from its footer; None when the footer cannot
    * give some key's bounds ([[footerBounds]]). A zero-row file needs no
    * bounds.
    */
  private def footerRow(spark: SparkSession, fs: FileSystem, file: String,
      keys: Seq[(String, Key)], schema: Option[StructType],
      zone: ZoneId): Option[Row] = {
    val st = fs.getFileStatus(new Path(file))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf))
    val footer = try reader.getFooter finally reader.close()
    val nRows = footer.getBlocks.asScala.map(_.getRowCount).sum
    if (nRows == 0L) Some(Row.fromSeq(file +: 0L +: keys.flatMap(_ => Seq(null, null))))
    else {
      // the Spark types a read of this file alone would infer
      lazy val fileTypes =
        scala.util.Try(ParquetFooterSchema.fromFooter(spark, st.getPath, footer)).toOption
      val bounds = keys.map { case (_, k) => footerBounds(footer, k, schema, fileTypes, zone) }
      val asInputFileName = st.getPath.toUri.toString
      if (bounds.exists(_.isEmpty)) None
      else Some(Row.fromSeq(asInputFileName +: nRows +: bounds.flatMap(
        _.get.fold(Seq[Any](null, null)) { case (lo, hi) => Seq(lo, hi) })))
    }
  }

  /** A key's `[min, max]` over the file's non-null values, from the footer:
    * Some(None) when every value is null; None when the footer cannot
    * tell — the key is no stored column of the file, its type is not one
    * the key's shape covers or differs from the lake `schema`'s, or a row
    * group holding values has no min/max.
    */
  private def footerBounds(footer: ParquetMetadata, key: Key,
      schema: Option[StructType], fileTypes: => Option[StructType],
      zone: ZoneId): Option[Option[(Long, Long)]] = {
    val fields = footer.getFileMetaData.getSchema
    for {
      name <- key match {
        case Key.Stored(n) => Some(n)
        case Key.MonthOf(n) => Some(n)
        case Key.Expr(_) => None
      }
      if fields.containsField(name)
      field = fields.getType(fields.getFieldIndex(name))
      if field.isPrimitive && !field.isRepetition(Type.Repetition.REPEATED)
      fileType <- fileTypes.flatMap(_.find(_.name == name)).map(_.dataType)
      if schema.forall(_.find(_.name == name).exists(_.dataType == fileType))
      value <- keyValue(key, field.asPrimitiveType, fileType,
        footer.getFileMetaData.getKeyValueMetaData.keySet.asScala, zone)
      bounds <- rowGroupBounds(footer, name)
    } yield bounds.map { case (lo, hi) => (value(lo), value(hi)) }
  }

  /** The map from a footer statistic of `field`, read as `sparkType`, to
    * the key's value — None when the key's shape does not cover the type.
    * Dates and timestamps rebased to the legacy calendar by old Spark
    * writers are not covered.
    */
  private def keyValue(key: Key, field: PrimitiveType, sparkType: DataType,
      footerKeys: collection.Set[String], zone: ZoneId): Option[Long => Long] = {
    val ann = field.getLogicalTypeAnnotation
    val legacy = footerKeys.exists(DriverParquet.legacyCalendarKeys)
    def monthOfDay(days: Long): Long = {
      val d = LocalDate.ofEpochDay(days)
      d.getYear * 100L + d.getMonthValue
    }
    (key, field.getPrimitiveTypeName, sparkType) match {
      case (Key.Stored(_), INT32, IntegerType) | (Key.Stored(_), INT64, LongType) =>
        Some(identity)
      case (Key.MonthOf(_), INT32, DateType) if ann == L.dateType() && !legacy =>
        Some(monthOfDay)
      case (Key.MonthOf(_), INT64, TimestampType | TimestampNTZType) if !legacy =>
        ann match {
          case ts: L.TimestampLogicalTypeAnnotation if ts.getUnit != L.TimeUnit.NANOS =>
            val toMicros = if (ts.getUnit == L.TimeUnit.MILLIS) 1000L else 1L
            // TIMESTAMP_NTZ values are wall-clock times: no zone shift
            val z = if (sparkType == TimestampNTZType) ZoneOffset.UTC else zone
            Some(v => monthOfDay(DateTimeUtils.microsToDays(v * toMicros, z)))
          case _ => None
        }
      case _ => None
    }
  }

  /** The min and max of column `name` over the row groups that hold rows,
    * from their statistics: Some(None) when every value is null, None when
    * a row group holding values has no min/max.
    */
  private def rowGroupBounds(footer: ParquetMetadata,
      name: String): Option[Option[(Long, Long)]] = {
    val path = ColumnPath.get(name)
    footer.getBlocks.asScala.filter(_.getRowCount > 0)
      .foldLeft(Option(Option.empty[(Long, Long)])) { (acc, block) =>
        for {
          sofar <- acc
          chunk <- block.getColumns.asScala.find(_.getPath == path)
          group <- chunkBounds(chunk.getStatistics, chunk.getValueCount)
        } yield (sofar ++ group).reduceOption((a, b) =>
          (math.min(a._1, b._1), math.max(a._2, b._2)))
      }
  }

  /** One row group's bounds of a column from its statistics `s`:
    * Some(None) when all `values` are null, None without a min/max.
    */
  private def chunkBounds(s: Statistics[_], values: Long): Option[Option[(Long, Long)]] =
    if (s == null) None
    else if (s.hasNonNullValue)
      Some(Some((s.genericGetMin.asInstanceOf[Number].longValue,
        s.genericGetMax.asInstanceOf[Number].longValue)))
    else if (s.isNumNullsSet && s.getNumNulls == values) Some(None)
    else None

  /** Data files whose [min_c, max_c] intersects [lo, hi]. */
  def survivingFiles(stats: DataFrame, c: String, lo: Long, hi: Long): Seq[String] =
    stats.filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
      .select("file").collect().map(_.getString(0)).toSeq

  /** Range read that opens only surviving files; the predicate is still
    * applied to the rows read (superset guarantee). `dataPath` supplies the
    * schema when nothing survives (folds to an empty relation, no IO), and
    * is the `basePath` of the surviving-file read so a partitioned layout's
    * directory-derived columns keep appearing — both branches produce the
    * same schema as a full scan.
    */
  def prunedRead(spark: SparkSession, dataPath: String, stats: DataFrame,
      c: String, lo: Long, hi: Long): DataFrame = {
    val files = survivingFiles(stats, c, lo, hi)
    val base =
      if (files.isEmpty) spark.read.parquet(dataPath).filter(lit(false))
      else spark.read.option("basePath", dataPath).parquet(files: _*)
    base.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
  }

  /** Conjunctive (multi-column zone-map) pruning: a file survives only if
    * EVERY predicate's interval intersects that file's [min, max] — so
    * skipping compounds across columns. With a Z-ORDER layout both
    * per-file ranges are tight, and the conjunction prunes strictly more
    * than either column alone.
    */
  def survivingFilesAll(stats: DataFrame,
      preds: Seq[(String, Long, Long)]): Seq[String] = {
    val cond = preds.map { case (c, lo, hi) =>
      col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)
    }.reduce(_ && _)
    stats.filter(cond).select("file").collect().map(_.getString(0)).toSeq
  }

  /** Conjunctive-range read over only the surviving files (superset
    * guarantee — the full predicate is still applied to rows read).
    */
  def prunedReadAll(spark: SparkSession, dataPath: String, stats: DataFrame,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    val files = survivingFilesAll(stats, preds)
    val base =
      if (files.isEmpty) spark.read.parquet(dataPath).filter(lit(false))
      else spark.read.option("basePath", dataPath).parquet(files: _*)
    base.filter(preds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _))
  }
}
