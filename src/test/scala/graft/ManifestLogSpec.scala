package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ManifestLog

/** Unit semantics of the log-structured manifest store, independent of the
  * ETL drain that drives it: fold ordering, tombstone shadowing across
  * delta boundaries, scheme-normalized keys, watermark/counter markers.
  */
class ManifestLogSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("min_pid", LongType, nullable = true),
    StructField("max_pid", LongType, nullable = true)))

  private def rows(rs: (String, Long, Long, Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rs.map { case (f, n, lo, hi) =>
        Row(f, n, java.lang.Long.valueOf(lo), java.lang.Long.valueOf(hi))
      }.asJava, schema)
  }

  private def files(log: ManifestLog): Set[String] =
    log.current().get.select("file").collect().map(_.getString(0)).toSet

  test("fold is last-writer-wins: a later delta's row replaces an earlier one; a tombstone kills an add across delta boundaries") {
    val dir = Files.createTempDirectory("graft-mlog1").toString
    val log = new ManifestLog(spark, s"$dir/m")
    log.commitDelta(rows(("/a.parquet", 10L, 1L, 2L), ("/b.parquet", 5L, 3L, 4L)), Seq.empty)
    log.commitDelta(rows(("/a.parquet", 99L, 1L, 9L)), Seq("/b.parquet"))
    val cur = log.current().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur == Map("/a.parquet" -> 99L),
      s"expected the re-added /a row and no /b: $cur")
  }

  test("scheme-normalized fold key: a tombstone carrying file:/x kills an add recorded as file:///x") {
    val dir = Files.createTempDirectory("graft-mlog2").toString
    val log = new ManifestLog(spark, s"$dir/m")
    log.commitDelta(rows((s"file://$dir/x.parquet", 7L, 1L, 1L),
      (s"file://$dir/y.parquet", 8L, 2L, 2L)), Seq.empty)
    log.commitDelta(rows(), Seq(s"file:$dir/x.parquet"))
    assert(files(log) == Set(s"file://$dir/y.parquet"),
      "the scheme variant must shadow the stored form")
  }

  test("empty diff commits nothing; checkpoint folds and ignores stale deltas; watermark and refresh counter are monotonic markers") {
    val dir = Files.createTempDirectory("graft-mlog3").toString
    val log = new ManifestLog(spark, s"$dir/m")
    assert(log.commitDelta(rows(), Seq.empty).isEmpty)
    assert(log.current().isEmpty)
    log.commitDelta(rows(("/a.parquet", 1L, 1L, 1L)), Seq.empty)
    log.commitDelta(rows(("/b.parquet", 2L, 2L, 2L)), Seq.empty)
    assert(log.deltasSinceCheckpoint == 2)
    log.checkpoint()
    assert(log.deltasSinceCheckpoint == 0)
    assert(files(log) == Set("/a.parquet", "/b.parquet"))
    // markers
    assert(log.waveWatermark == -1L)
    log.setWaveWatermark(5L)
    log.setWaveWatermark(3L) // lower: no-op
    assert(log.waveWatermark == 5L)
    assert(log.refreshCount == 0L)
    assert(log.bumpRefreshCount() == 1L && log.bumpRefreshCount() == 2L)
    log.resetRefreshCount()
    assert(log.refreshCount == 0L)
  }

  test("bucketed checkpoint: localizedPruned reads only intersecting buckets, folds identically to current(), and tombstones/re-adds shadow inside the localized view") {
    val dir = Files.createTempDirectory("graft-mlog5").toString
    val log = new ManifestLog(spark, s"$dir/m")
    // three year-buckets of month intervals (pb = floor(min/100))
    log.commitDelta(rows(
      ("/y95a.parquet", 10L, 199501L, 199506L),
      ("/y95b.parquet", 10L, 199507L, 199512L),
      ("/y96a.parquet", 10L, 199601L, 199606L),
      ("/y96b.parquet", 10L, 199607L, 199612L),
      ("/y97a.parquet", 10L, 199701L, 199706L)), Seq.empty)
    log.checkpoint()
    // a one-month consumer (the per-month copy): only 1996's bucket read
    val loc = log.localizedPruned((mn, mx) => mx >= 199603L && mn <= 199603L)
    assert(loc.totalBuckets == 3 && loc.selectedBuckets == 1,
      s"expected 1 of 3 buckets, got ${loc.selectedBuckets}/${loc.totalBuckets}")
    assert(loc.checkpointRowsRead == 2 && loc.checkpointRowsTotal == 5)
    // the view's surviving set for the month equals the FULL fold's
    def surv(df: org.apache.spark.sql.DataFrame) =
      graft.sources.StatsStore.survivingFiles(df, "pid", 199603L, 199603L).toSet
    assert(surv(loc.view) == surv(log.current().get))
    assert(surv(loc.view) == Set("/y96a.parquet"))
    // keep-nothing selection: zero checkpoint rows reach the driver
    val none = log.localizedPruned((_, _) => false)
    assert(none.checkpointRowsRead == 0L && none.view.collect().isEmpty)
    // a post-checkpoint delta: tombstone one 1996 file, re-add the other
    // with new stats — the localized fold must honor both (deltas are
    // always read; last-writer-wins inside the local fold)
    log.commitDelta(rows(("/y96a.parquet", 99L, 199601L, 199606L)),
      Seq("/y96b.parquet"))
    val loc2 = log.localizedPruned((mn, mx) => mx >= 199601L && mn <= 199612L)
    val got = loc2.view.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("/y96a.parquet" -> 99L),
      s"localized fold diverged: $got")
    assert(loc2.deltaRowsRead == 2L) // one re-add + one tombstone
    // and the full fold agrees after a second checkpoint
    log.checkpoint()
    val cur = log.current().get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur == Map("/y95a.parquet" -> 10L, "/y95b.parquet" -> 10L,
      "/y96a.parquet" -> 99L, "/y97a.parquet" -> 10L))
  }

  test("tombstone rows are built by field name: a stats projection with `file` not first works (r10 verdict: positional construction assumed file-first)") {
    val dir = Files.createTempDirectory("graft-mlog6").toString
    val log = new ManifestLog(spark, s"$dir/m")
    // reordered producer schema: n_rows physically first
    val reordered = StructType(Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("min_pid", LongType, nullable = true),
      StructField("max_pid", LongType, nullable = true)))
    import scala.jdk.CollectionConverters._
    val adds = spark.createDataFrame(Seq(
      Row(10L, "/a.parquet", 199501L, 199502L),
      Row(20L, "/b.parquet", 199503L, 199504L)).asJava, reordered)
    log.commitDelta(adds, Seq.empty)
    log.commitDelta(adds.filter(lit(false)), Seq("/a.parquet"))
    val cur = log.current().get.collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("n_rows"))).toMap
    assert(cur == Map("/b.parquet" -> 20L),
      s"the tombstone must kill /a and leave /b intact by name: $cur")
    // the tombstone row put the PATH in the file column, not positionally
    // into n_rows — survives a checkpoint fold too
    log.checkpoint()
    val folded = log.current().get.collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("n_rows"))).toMap
    assert(folded == Map("/b.parquet" -> 20L))
  }

  test("bucket summary carries a per-bucket yyyymm-shape flag: mixed-shape buckets report shapeOk=false to the 3-arg localizedPruned (r10 ADVICE)") {
    val dir = Files.createTempDirectory("graft-mlog7").toString
    val log = new ManifestLog(spark, s"$dir/m")
    log.commitDelta(rows(
      // 1995 bucket: one calendar file and one NON-yyyymm interval (a
      // wrong pidIsYyyymm declaration over a generic counter encoding)
      ("/y95ok.parquet", 10L, 199501L, 199506L),
      ("/y95bad.parquet", 10L, 199540L, 199590L),
      // 1996 bucket: purely calendar
      ("/y96.parquet", 10L, 199601L, 199612L)), Seq.empty)
    log.checkpoint()
    val seen = scala.collection.mutable.Map.empty[Long, Boolean]
    log.localizedPruned((mn, _, shapeOk) => { seen(mn / 100) = shapeOk; true })
    assert(seen == Map(1995L -> false, 1996L -> true),
      s"shape flags wrong: $seen")
    // 2-arg callers still see every bucket (flag ignored, not filtered)
    val all = log.localizedPruned((_, _) => true)
    assert(all.checkpointRowsRead == 3L)
  }

  /** The reference fold over the log's files as they lie on disk:
    * checkpoint ∪ live deltas ranked per scheme-normalized key by delta
    * seq (the checkpoint `checkpoint-N` ranks as seq N), newest wins, tombstones
    * dropped — the window `current()` ran before the fold became map-only.
    * Rows as sorted strings over the manifest columns.
    */
  private def windowFold(m: String): Seq[String] = {
    val fs = new Path(m).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val upto = fs.listStatus(new Path(m)).map(_.getPath.getName)
      .collect { case n if n.startsWith("checkpoint-") => n.stripPrefix("checkpoint-").toLong }
      .maxOption.getOrElse(-1L)
    val ck = new Path(m, s"checkpoint-$upto")
    val ckDf =
      if (upto < 0) Seq.empty
      else Seq(spark.read.parquet(ck.toString).drop("pb")
        .withColumn("tombstone", lit(false)).withColumn("__seq", lit(upto)))
    val deltas = fs.listStatus(new Path(m)).map(_.getPath.getName).toSeq.collect {
      case n if n.startsWith("delta-") && n.stripPrefix("delta-").toLong > upto =>
        spark.read.parquet(s"$m/$n").withColumn("__seq", lit(n.stripPrefix("delta-").toLong))
    }
    val w = Window.partitionBy(col("__key")).orderBy(col("__seq").desc)
    sorted((ckDf ++ deltas).reduce(_ unionByName _)
      .withColumn("__key", regexp_replace(col("file"), "^[a-z][a-z0-9+.\\-]*:/+", "/"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("tombstone")))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.select(schema.fieldNames.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq

  /** Fold `log` (at `m`) and assert the new checkpoint holds exactly the
    * reference fold's rows, and that `current()` now returns them too.
    */
  private def assertFoldEquivalent(log: ManifestLog, m: String, expect: Seq[String]): Unit = {
    val want = windowFold(m)
    assert(want == expect.sorted, s"reference fold: $want")
    assert(log.deltasSinceCheckpoint > 0)
    log.checkpoint()
    assert(log.deltasSinceCheckpoint == 0)
    val ck = new java.io.File(m).list().filter(_.startsWith("checkpoint-")).toSeq
    assert(ck.size == 1, s"older checkpoints left: $ck")
    assert(sorted(spark.read.parquet(s"$m/${ck.head}").drop("pb")) == want)
    assert(sorted(log.current().get) == want)
  }

  test("fold equivalence: the map-only checkpoint holds exactly the window fold's rows — tombstone over an earlier delta, re-add after a tombstone, file:/x against file:///x, first build, fold to zero rows") {
    val dir = Files.createTempDirectory("graft-mlog8").toString
    def row(f: String, n: Long, lo: Long, hi: Long) = s"[$f,$n,$lo,$hi]"

    // first build: no checkpoint exists yet, two deltas fold into the first
    val m1 = s"$dir/first"
    val first = new ManifestLog(spark, m1)
    first.commitDelta(rows(("/a.parquet", 1L, 199501L, 199501L),
      ("/b.parquet", 2L, 199502L, 199502L)), Seq.empty)
    first.commitDelta(rows(("/b.parquet", 3L, 199502L, 199503L)), Seq.empty)
    assertFoldEquivalent(first, m1, Seq(row("/a.parquet", 1L, 199501L, 199501L),
      row("/b.parquet", 3L, 199502L, 199503L)))

    // a tombstone kills an add made by an earlier live delta, and a
    // checkpoint row
    first.commitDelta(rows(("/c.parquet", 4L, 199601L, 199601L)), Seq.empty)
    first.commitDelta(rows(), Seq("/c.parquet", "/a.parquet"))
    assertFoldEquivalent(first, m1, Seq(row("/b.parquet", 3L, 199502L, 199503L)))

    // a re-add after a tombstone: the newer add wins, with its new stats
    first.commitDelta(rows(), Seq("/b.parquet"))
    first.commitDelta(rows(("/b.parquet", 9L, 199701L, 199702L)), Seq.empty)
    assertFoldEquivalent(first, m1, Seq(row("/b.parquet", 9L, 199701L, 199702L)))

    // a file:/x tombstone against a file:///x add, in the checkpoint and
    // in a live delta
    val m2 = s"$dir/scheme"
    val scheme = new ManifestLog(spark, m2)
    scheme.commitDelta(rows((s"file://$dir/x.parquet", 7L, 199501L, 199501L),
      (s"file://$dir/y.parquet", 8L, 199502L, 199502L)), Seq.empty)
    scheme.checkpoint()
    scheme.commitDelta(rows((s"file://$dir/z.parquet", 5L, 199503L, 199503L)), Seq.empty)
    scheme.commitDelta(rows(), Seq(s"file:$dir/x.parquet", s"file:$dir/z.parquet"))
    assertFoldEquivalent(scheme, m2, Seq(row(s"file://$dir/y.parquet", 8L, 199502L, 199502L)))

    // a fold to zero rows keeps a readable, empty checkpoint, which later
    // deltas fold onto
    first.commitDelta(rows(), Seq("/b.parquet"))
    assertFoldEquivalent(first, m1, Seq.empty)
    assert(first.localizedPruned((_, _) => true).view.collect().isEmpty)
    first.commitDelta(rows(("/d.parquet", 6L, 199801L, 199801L)), Seq.empty)
    assertFoldEquivalent(first, m1, Seq(row("/d.parquet", 6L, 199801L, 199801L)))
  }

  test("commitDelta rejects rows without a min_ stats column, naming their columns") {
    val dir = Files.createTempDirectory("graft-mlog9").toString
    val log = new ManifestLog(spark, s"$dir/m")
    val e = intercept[IllegalArgumentException](
      log.commitDelta(rows(("/a.parquet", 1L, 1L, 1L)).drop("min_pid"), Seq.empty))
    assert(e.getMessage.contains("file, n_rows, max_pid"), e.getMessage)
    assert(!log.nonEmpty)
  }
}
