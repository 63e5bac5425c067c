package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.EtlMain
import graft.etl.{EtlRunner, IncrementalBackup, JobConfig, StatusStore}
import graft.sources.IngestLog

/** The benchmark's JVM side: one workload, single client, closed loop, in
  * one process at `local[cores]`.
  *
  * {{{
  * graftbench.Main --workload backfill|steady|query --seed N --seconds S
  *   --trace 0|1 --inputs DIR --work DIR --cores N --reps R
  * }}}
  *
  * `inputs` holds what `perfbench/gen.py` generated for the workload. The
  * run writes `result.json` (raw timings, store sizes, read-back results
  * for the oracle check) and, traced, `trace.jsonl` (spans) into `work`;
  * `perfbench/run.py` turns them into metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, inputs: String, work: String, cores: Int, reps: Int,
      months: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("inputs"), m("work"),
      m.getOrElse("cores", "4").toInt, m.getOrElse("reps", "3").toInt,
      m("months").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val b = SparkSession.builder().master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/tmp")
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ready = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val run = new Run(spark, a, ready)
    try run.execute()
    finally spark.stop()
  }
}

/** Shared state of one benchmark run. */
final class Run(spark: SparkSession, a: Main.Args, sessionReadyS: Double) {
  val tracer = new Tracer(spark, a.trace)
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private val prepS = mutable.ArrayBuffer.empty[Double]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val heapMb = mutable.ArrayBuffer.empty[Double]
  private val extra = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var store: Map[String, Any] = Map.empty
  private var checks: Map[String, Any] = Map.empty
  private var gcMs = 0L
  private var explicitGcMs = 0L

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Old-generation use after a full collection, in MB (outside timing). */
  private def sampleHeap(): Unit = {
    val g0 = gcTotalMs
    System.gc()
    explicitGcMs += gcTotalMs - g0
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = old.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum
    heapMb += used / 1e6
  }

  /** One attempted operation; an exception counts as a failure. */
  private def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  private def fail(msg: String): Unit = failures += msg.take(400)

  private def fresh(p: String): String = {
    deleteTree(Paths.get(p)); Files.createDirectories(Paths.get(p)); p
  }

  private def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[JPath]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }

  /** Regular files under `dir` whose names do not start with `_` or `.`. */
  private def dataFiles(dir: String): Seq[JPath] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.toIndexedSeq
      finally s.close()
    }
  }

  private def allFiles(dir: String): Seq[JPath] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toIndexedSeq
      finally s.close()
    }
  }

  private def bytes(fs: Seq[JPath]): Long = fs.map(Files.size).sum

  /** Per-pid count, key sum and exact value sum of a backup's read-back. */
  private def readBackSums(df: DataFrame, key: String, value: String): Seq[Seq[Any]] =
    df.groupBy(col("pid").cast("long").as("pid"))
      .agg(count(lit(1)).as("n"), sum(col(key)).as("k"),
        sum(col(value).cast("decimal(18,2)")).as("v"))
      .orderBy("pid").collect().toSeq
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3).toPlainString))

  /** Every status row of `table` complete, each pid exactly once. */
  private def checkStatus(root: String, table: String, want: Set[Long]): Seq[Long] = {
    val rows = new StatusStore(spark, s"$root/status/$table").rows()
      .filter(_.tableName == table)
    val pids = rows.map(_.primaryPartitionValue)
    if (pids.distinct.size != pids.size) fail(s"$table: a partition is recorded twice")
    if (pids.toSet != want)
      fail(s"$table: status holds ${pids.toSet.size} partitions, want ${want.size}")
    if (!rows.forall(_.isComplete)) fail(s"$table: a partition is not marked complete")
    rows.flatMap(_.endDate.map(_.getTime)).sorted
  }

  private def monthsFrom(first: Int, n: Int): Seq[Long] =
    Iterator.iterate(first) { m => if (m % 100 == 12) (m / 100 + 1) * 100 + 1 else m + 1 }
      .take(n).map(_.toLong).toSeq

  private val firstMonth = 201901
  private def register(dir: String, cat: String): Unit =
    if (a.trace) CountingFileSystem.register(dir, cat)

  /** The workload's set-up, run as `reps` stages of equal work (stage `i`
    * gets `i`); each stage is timed, so `setup_s` can use their median.
    */
  private def setUp(stage: Int => Unit): Unit =
    (0 until a.reps).foreach { i =>
      val t0 = System.nanoTime()
      stage(i)
      prepS += (System.nanoTime() - t0) / 1e9
    }

  /** Run timed passes until `seconds` have elapsed, and at least `minPasses`. */
  private def timed(minPasses: Int = 1)(pass: Int => Unit): Unit = {
    val gc0 = gcTotalMs
    val t0 = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      pass(p)
      p += 1
    }
    gcMs = gcTotalMs - gc0 - explicitGcMs
  }

  // ---------------------------------------------------------------- backfill

  private val bfTables = Seq(("orders", "o_orderkey", "o_totalprice"),
    ("lineitem", "l_orderkey", "l_extendedprice"),
    ("customer", "c_custkey", "c_acctbal"))

  private def backfill(): Unit = {
    val months = monthsFrom(firstMonth, a.months).toSet
    val want = Map("orders" -> months, "lineitem" -> months, "customer" -> Set(0L))
    // warm-up: a whole backfill of a small input, once per stage
    setUp { i =>
      val root = fresh(s"${a.work}/prep-$i")
      EtlMain.run(spark, s"${a.inputs}/warm", root, Nil)
      deleteTree(Paths.get(root))
    }
    var lastRoot = ""
    timed() { p =>
      val root = fresh(s"${a.work}/backfill-$p")
      register(s"$root/status", "status")
      register(s"$root/data", "data")
      register(s"$root/locks", "lock")
      val t0 = System.nanoTime()
      val out = attempt("backfill") {
        tracer.op("backfill", "EtlMain.run", p) {
          EtlMain.run(spark, a.inputs, root, Nil)
        }
      }
      passes += Map("pass" -> p, "wall_s" -> (System.nanoTime() - t0) / 1e9)
      val expect = s""""partitions_copied":{"customer":1,"lineitem":${a.months},"orders":${a.months}}"""
      out.foreach(o => if (!o.contains(expect)) fail(s"backfill pass $p copied $o"))
      val idle = attempt("idle re-run") {
        tracer.op("idle", "EtlMain.run", p) { EtlMain.run(spark, a.inputs, root, Nil) }
      }
      idle.foreach(o => if (!o.contains("\"customer\":0,\"lineitem\":0,\"orders\":0"))
        fail(s"idle re-run of pass $p copied $o"))
      bfTables.foreach { case (t, _, _) =>
        val stamps = checkStatus(root, t, want(t))
        extra += Map("type" -> "stamps", "table" -> t, "pass" -> p, "end_ms" -> stamps)
      }
      sampleHeap()
      if (lastRoot.nonEmpty) deleteTree(Paths.get(lastRoot))
      lastRoot = root
    }
    val data = dataFiles(s"$lastRoot/data")
    store = Map("data_files" -> data.size, "data_bytes" -> bytes(data),
      "partitions" -> want.values.map(_.size).sum,
      "source_bytes" -> bytes(bfTables.map(t => Paths.get(s"${a.inputs}/${t._1}.parquet"))))
    checks = Map("readback" -> bfTables.map { case (t, k, v) =>
      val ib = new IncrementalBackup(spark, cfgFor(t),
        new StatusStore(spark, s"$lastRoot/status/$t"), s"$lastRoot/data")
      t -> readBackSums(ib.readBack(), k, v)
    }.toMap)
  }

  private def cfgFor(t: String): JobConfig =
    if (t == "customer") JobConfig(t, primaryId = "") else JobConfig(t)

  // ------------------------------------------------------------------ steady

  // MANIFEST_CHECKPOINT_EVERY 4 (default 8): a pass of a few seconds then
  // covers whole checkpoint periods
  private val steadyCfg = JobConfig(tableName = "orders", pruned = true,
    manifestCheckpointEvery = 4)

  private def steady(): Unit = {
    val waves = monthsFrom(firstMonth, new java.io.File(s"${a.inputs}/waves").list().length)
    def waveFile(m: Long) = Paths.get(s"${a.inputs}/waves/orders-$m.parquet")
    def land(lake: String, m: Long): String = {
      val dst = Paths.get(lake, s"orders-$m.parquet")
      Files.copy(waveFile(m), dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
    def drain(root: String, lake: String): Seq[Long] =
      EtlRunner.runAllFrom(spark, root,
        Seq(steadyCfg -> (EtlRunner.LakeSource(lake): EtlRunner.EtlSource)))("orders")
        .getOrElse(sys.error("orders drain was lock-skipped"))
    // history: each stage lands an equal share of it, one wave per month,
    // and drains it
    val root = fresh(s"${a.work}/etl")
    val lake = fresh(s"${a.work}/lake")
    val per = a.months / a.reps
    setUp { i =>
      val months = waves.slice(i * per, (i + 1) * per)
      months.foreach(m => IngestLog.record(spark, lake, Seq(land(lake, m))))
      val got = drain(root, lake)
      if (got != months) fail(s"history drain copied $got, want $months")
    }
    register(s"$root/status", "status")
    register(s"$root/data", "data")
    register(s"$root/data/orders_manifest", "manifest")
    register(s"$root/locks", "lock")
    register(s"$root/data/orders.drain.lock", "lock")
    register(lake, "lake")
    register(s"$lake/_ingest_log", "ingest")
    var next = per * a.reps
    // the manifest folds a checkpoint (and reconciles the journal against a
    // full listing) on every k-th drain after the first; set-up ran `reps`
    // drains, so in every period of k ticks the same tick is that drain
    val k = steadyCfg.manifestCheckpointEvery
    val ckptTick = (k - a.reps % k) % k
    // A pass is two checkpoint periods. In each period one month lands,
    // before the first drain after the checkpoint drain; the other drains
    // find nothing new. Every run measures the same mix of copying, idle and
    // checkpoint drains at the same places in the period (a drain's cost
    // grows with the deltas since the last fold); the seed decides the
    // months' contents.
    val arrive = Set((ckptTick + 1) % k)
    timed() { p =>
      val t0 = System.nanoTime()
      (0 until 2 * k).map(_ % k).foreach { t =>
        val month = if (arrive(t)) { next += 1; Some(waves(next - 1)) } else None
        month.foreach { m =>
          val f = land(lake, m)
          attempt("ingest record") {
            tracer.op("ingest", "IngestLog.record", p) { IngestLog.record(spark, lake, Seq(f)) }
          }
        }
        val got = attempt("drain") {
          tracer.op("drain", "EtlRunner.runAllFrom", p, Map("tick" -> t,
            "copied_expected" -> month.size, "checkpoint" -> (t == ckptTick))) {
            drain(root, lake)
          }
        }
        got.foreach(g => if (g != month.toSeq) fail(s"drain copied $g, want ${month.toSeq}"))
      }
      passes += Map("pass" -> p, "wall_s" -> (System.nanoTime() - t0) / 1e9)
      sampleHeap()
    }
    val landed = waves.take(next)
    checkStatus(root, "orders", landed.toSet)
    val data = dataFiles(s"$root/data/orders")
    val meta = Seq(s"$root/status", s"$root/data/orders_manifest", s"$lake/_ingest_log")
      .flatMap(allFiles)
    store = Map("data_files" -> data.size, "data_bytes" -> bytes(data),
      "partitions" -> landed.size,
      "source_bytes" -> bytes(landed.map(waveFile)),
      "metadata_files" -> meta.size, "metadata_bytes" -> bytes(meta),
      "status_rows" -> landed.size)
    val ib = new IncrementalBackup(spark, steadyCfg,
      new StatusStore(spark, s"$root/status/orders"), s"$root/data")
    checks = Map("landed" -> landed,
      "readback" -> Map("orders" -> readBackSums(ib.readBack(), "o_orderkey", "o_totalprice")))
  }

  // ------------------------------------------------------------------- query

  private def query(): Unit = {
    val months = monthsFrom(firstMonth, a.months)
    val yaml = Paths.get(s"${a.work}/yaml/customer.yaml")
    Files.createDirectories(yaml.getParent)
    Files.write(yaml, "PRIMARY_ID : ''\nNUM_MAPPERS : 8\n".getBytes("UTF-8"))
    // history: each stage backfills the next equal share of the months
    // (stage `i` reads an input holding months up to the end of its share)
    val root = fresh(s"${a.work}/etl")
    setUp { i =>
      val out = EtlMain.run(spark, s"${a.inputs}/stage-$i", root, Seq("orders", yaml.toString))
      val dim = if (i == 0) 1 else 0
      if (!out.contains(s""""customer":$dim,"orders":${a.months / a.reps}"""))
        fail(s"query set-up stage $i copied $out")
    }
    register(s"$root/data", "query")
    val ob = new IncrementalBackup(spark, JobConfig("orders"),
      new StatusStore(spark, s"$root/status/orders"), s"$root/data")
    val cb = new IncrementalBackup(spark, JobConfig("customer", primaryId = ""),
      new StatusStore(spark, s"$root/status/customer"), s"$root/data")
    val rng = new scala.util.Random(a.seed * 104729L + 3L)
    val point = months(rng.nextInt(months.size))
    val topLo = months(rng.nextInt(months.size - 6))
    val trailing = months.takeRight(6)
    val joinFrom = months(months.size - 12)
    val price = col("o_totalprice").cast("decimal(18,2)")
    val mix: Seq[(String, () => DataFrame)] = Seq(
      "q_month_counts" -> (() => ob.readBack().groupBy(col("pid").cast("long").as("pid"))
        .agg(count(lit(1)), sum("o_orderkey"), sum(price)).orderBy("pid")),
      "q_point_month" -> (() => ob.readBack().filter(col("pid") === point)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"), price).orderBy("o_orderkey")),
      "q_trailing_range" -> (() => ob.readBack()
        .filter(col("pid").between(trailing.head, trailing.last))
        .groupBy("o_orderpriority").agg(count(lit(1)), sum(price))
        .orderBy("o_orderpriority")),
      "q_join_dim" -> (() => ob.readBack().filter(col("pid") >= joinFrom)
        .join(cb.readBack(), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)), sum(price),
          countDistinct(col("o_custkey")))
        .orderBy("c_mktsegment")),
      "q_topk" -> (() => ob.readBack()
        .filter(col("pid").between(topLo, months(months.indexOf(topLo) + 5)))
        .select(col("o_orderkey"), price.as("price"))
        .orderBy(col("price").desc, col("o_orderkey")).limit(10)))
    val first = mutable.LinkedHashMap.empty[String, Seq[Seq[Any]]]
    def plain(r: Row): Seq[Any] = r.toSeq.map {
      case d: java.math.BigDecimal => d.toPlainString
      case v => v
    }
    // three passes at least, so the pass median is a warm pass
    timed(minPasses = 3) { p =>
      val t0 = System.nanoTime()
      mix.foreach { case (name, q) =>
        attempt(name) {
          tracer.op("query", name, p) { q().collect().toSeq.map(plain) }
        }.foreach { rows =>
          first.get(name) match {
            case None => first(name) = rows
            case Some(f) => if (f != rows) fail(s"$name: pass $p result differs from pass 0")
          }
        }
      }
      passes += Map("pass" -> p, "wall_s" -> (System.nanoTime() - t0) / 1e9)
      // three of them: one such read is short enough for noise to dominate
      (0 until 3).foreach { _ =>
        attempt("q_absent_month") {
          tracer.op("idle", "q_absent_month", p) {
            ob.readBack().filter(col("pid") === 190001L).count()
          }
        }.foreach(n => if (n != 0L) fail(s"q_absent_month counted $n rows"))
      }
      sampleHeap()
    }
    val data = dataFiles(s"$root/data")
    store = Map("data_files" -> data.size, "data_bytes" -> bytes(data),
      "partitions" -> (a.months + 1),
      "source_bytes" -> bytes(Seq("orders", "customer")
        .map(t => Paths.get(s"${a.inputs}/$t.parquet"))))
    checks = Map("params" -> Map("point" -> point, "top_lo" -> topLo,
      "top_hi" -> months(months.indexOf(topLo) + 5), "trailing_lo" -> trailing.head,
      "trailing_hi" -> trailing.last, "join_from" -> joinFrom),
      "results" -> first.toMap)
  }

  // -------------------------------------------------------------------- run

  def execute(): Unit = {
    a.workload match {
      case "backfill" => backfill()
      case "steady"   => steady()
      case "query"    => query()
      case other      => sys.error(s"unknown workload $other")
    }
    val ops = tracer.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
      "pass" -> o.pass, "dur_ms" -> o.durMs) ++ o.attrs)
    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "session_ready_s" -> sessionReadyS, "prep_s" -> prepS.toSeq,
      "passes" -> passes.toSeq, "ops" -> ops.toSeq, "heap_mb" -> heapMb.toSeq,
      "jvm_gc_ms" -> gcMs, "store" -> store, "checks" -> checks,
      "stamps" -> extra.toSeq,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.toSeq,
      "env" -> Map("spark" -> spark.version, "heap_max_mb" -> rt.maxMemory / 1048576L,
        "java" -> System.getProperty("java.version"),
        "processors" -> rt.availableProcessors()))
    Files.write(Paths.get(s"${a.work}/result.json"), Json.obj(result).getBytes("UTF-8"))
    if (a.trace) tracer.writeJsonl(s"${a.work}/trace.jsonl", extra.toSeq)
  }
}
