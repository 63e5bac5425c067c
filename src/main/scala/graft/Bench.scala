package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark driver.
  *
  * r6 post-mortem: running the whole suite (312 timed queries + an
  * 18-drain RocksDB section) in ONE JVM produced a uniform ×1.16 drift vs
  * r5 with zero plan changes — the accumulation signature (JIT code-cache
  * pressure, heap/metaspace growth, GC debt) the r4 post-mortem first
  * identified. The fix is structural, not a bigger knob: the suite is
  * SPLIT INTO SECTIONS, EACH TIMED IN A FRESH CHILD JVM (batch queries in
  * chunks of ≤ `chunkSize`, the streaming drains, the RocksDB backend
  * axis), so no query's timing can depend on how many unrelated queries
  * ran before it. The parent merges the per-section results, runs the
  * plan-fingerprint and state-equivalence gates, and prints the one-line
  * contract. Each child also reports its JIT code-cache occupancy so the
  * "cache never filled" claim is committed evidence, not an assumption.
  *
  * Run counts are EQUAL across sections (3 timed runs, min reported) —
  * r6's mixed 3/2/1 counts made sections incomparable.
  *
  * BUDGETED since r11 (the r10 driver bench was rc=124/`parsed: null`: at
  * full fidelity the suite is ~1 warmup + 3 timed runs × ~320 queries ≈
  * 59 min of timed work alone, and a ×1.5–3 machine-drift epoch pushed it
  * past the driver's wall budget — an artifact that only exists when the
  * machine is fast fails exactly when evidence is needed). The parent
  * carries a wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default
  * 1500) and allocates each child section a deadline proportional to its
  * previous-round cost; each child re-plans before every query and
  * degrades UNIFORMLY for the remaining tail — warmup pass first, then
  * 3 → 2 → 1 timed runs — so the floor is one timed run per query and the
  * artifact is always COMPLETE, never empty. A fixed noise-control subset
  * (every 15th query) keeps 3 runs for cross-round floor comparability,
  * and every query's actual run count is committed in its `runs` array.
  */
object Bench {

  /** MAX timed runs per query (the full-fidelity count; the budget planner
    * degrades toward 1). The min of three is the steady-state cost with
    * high probability: run 1 can absorb fixture builds + codegen, and a
    * stray full GC or compile storm lands in at most one run.
    */
  private val runsPerQuery = 3

  /** Every `controlEvery`-th query (sorted order) keeps [[runsPerQuery]]
    * timed runs even under budget pressure — the fixed noise-control
    * subset that anchors cross-round comparisons when the rest of the
    * suite degrades to fewer runs.
    */
  private val controlEvery = 15

  /** Previous committed per-query min seconds — the budget planner's cost
    * model (keyed by detailName, so `q@rocksdb` rows cost the rocksdb
    * axis). Missing file → empty map (planner falls back to its median).
    */
  private def previousMins(): Map[String, Double] = {
    val p = java.nio.file.Paths.get("BENCH_DETAILS.json")
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val text = java.nio.file.Files.readString(p)
    """"([^"]+)":\{"min_s":([0-9.eE+-]+)""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Max batch queries per child JVM. ~70 keeps each child's codegen well
    * under the code cache and its heap churn bounded; chunking is by
    * sorted name, so membership is deterministic round-over-round.
    */
  private val chunkSize = 70

  /** Plan fingerprint: executedPlan text with per-session ids stripped, so
    * the same logical plan hashes identically across rounds — BENCH_DETAILS
    * diffs then show which queries' PLANS changed, not just their times.
    */
  private def planFingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val normalized = df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("@[0-9a-f]+", "@")
      // lambda variable names embed a JVM-global counter (lambda x_5 vs
      // x_17 for the SAME plan when unrelated queries shift the counter) —
      // without this, every HOF-bearing query false-churns whenever the
      // catalog grows
      .replaceAll("lambda ([A-Za-z]+)_\\d+", "lambda $1_")
      // MapPartitions prints the closure's synthetic class identity
      // ($$Lambda$3369/0x7f6a...), fresh per JVM — same false churn for
      // every typed/mapPartitions operator
      .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
      // per-run temp fixture dirs would churn every fixture query's
      // fingerprint; the path identity isn't part of the plan shape
      .replaceAll("/tmp/[^\\s,\\]]+", "/tmp/_")
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalized.getBytes("UTF-8"))
    d.take(6).map("%02x".format(_)).mkString
  }

  /** Queries whose plan TEXT is data-dependent by design and therefore
    * can't fingerprint stably: q_quantile_store folds its sketch-estimated
    * quantiles (merge-order dependent) into a second query as literals —
    * the OUTPUT (accuracy booleans vs exact) is deterministic, the plan
    * string is not. Recorded as "volatile", skipped by the change gate.
    */
  private val fpVolatile = Set("q_quantile_store",
    // q_zone_map's executed plan embeds the zone-map fixture's pruned FILE
    // LIST; file names carry per-build UUIDs and listing order, so the
    // text churns across runs while the plan SHAPE (and the result, incl.
    // the pruning booleans) is deterministic.
    "q_zone_map",
    // multi-countDistinct plans rewrite through an Expand whose projection
    // lists are ordered by exprId — ids shift whenever the CATALOG grows,
    // so the normalized text moves positions even though the plan shape is
    // identical (observed: q_unicode_dedup churned between two runs of
    // unchanged query code). Mark every 2-countDistinct query volatile.
    "q_unicode_dedup", "q_datasheet")

  /** Previous round's per-query plan fingerprints, read from the committed
    * BENCH_DETAILS.json BEFORE this run overwrites it — the regression gate
    * input. Regex parse; the file is machine-written with a fixed shape.
    */
  private def previousFingerprints(): Map[String, String] = {
    val p = java.nio.file.Paths.get("BENCH_DETAILS.json")
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val text = java.nio.file.Files.readString(p)
    """"([^"]+)":\{"min_s":[^}]*"plan_fp":"([0-9a-f]+|err|volatile)"""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Max state-store footprint (rows, bytes) observed across the progress
    * events of whatever streaming queries ran since the last reset — the
    * per-drain state metric the r5 verdict asked for. Streaming listener
    * events ride the shared async bus; callers drain it (ListenerBusDrain)
    * before snapshotting.
    */
  private final class StateMeter
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val rows = new java.util.concurrent.atomic.AtomicLong(-1L)
    private val mem = new java.util.concurrent.atomic.AtomicLong(-1L)
    def reset(): Unit = { rows.set(-1L); mem.set(-1L) }
    def snapshot: (Long, Long) = (rows.get(), mem.get())
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val ops = e.progress.stateOperators
      if (ops != null && ops.nonEmpty) {
        val r = ops.map(_.numRowsTotal).sum
        val m = ops.map(_.memoryUsedBytes).sum
        rows.updateAndGet(x => math.max(x, r))
        mem.updateAndGet(x => math.max(x, m))
        ()
      }
    }
  }

  /** One measured query: times per run, fingerprint, state footprint. */
  private final case class Result(detailName: String, section: String,
      backend: String, times: Seq[Double], fp: String,
      stateRows: Long, stateMem: Long)

  private def s3(v: Double) = f"$v%.3f"

  // ---------------------------------------------------------------- sections

  /** Section ids; each runs in its own child JVM. `batch:<i>` is the i-th
    * [[chunkSize]] slice of the sorted batch-query list.
    */
  private def batchNames(keep: String => Boolean): Seq[String] =
    (SparkEntry.queries -- QueryCatalog.benchExcluded).keys
      .filter(keep).toSeq.sorted

  private def streamingNames(keep: String => Boolean): Seq[String] =
    QueryCatalog.benchExcluded.filter(SparkEntry.queries.contains)
      .filter(keep).toSeq.sorted

  private def rocksNames(keep: String => Boolean): Seq[String] =
    QueryCatalog.streamingDrains.filterNot(_.endsWith("_rocksdb"))
      .filter(SparkEntry.queries.contains).filter(keep).toSeq.sorted

  private def sectionPlan(keep: String => Boolean): Seq[String] = {
    // no batch chunk when the filter keeps no batch queries (a streaming-
    // only SPARK_GRAFT_BENCH_ONLY run otherwise spawned a child JVM that
    // measured nothing), mirroring the streaming/rocksdb guards
    val n = batchNames(keep).size
    val nChunks =
      if (n == 0) 0 else math.ceil(n.toDouble / chunkSize).toInt
    (0 until nChunks).map(i => s"batch:$i") ++
      (if (streamingNames(keep).nonEmpty) Seq("streaming") else Nil) ++
      (if (rocksNames(keep).nonEmpty) Seq("rocksdb") else Nil)
  }

  /** Per-section budget plan, re-evaluated before every query: how many
    * timed runs the remaining tail can afford inside `deadlineMs`.
    * `None` deadline = unbudgeted full fidelity (warmup + 3 runs).
    */
  private final class BudgetPlanner(deadlineMs: Option[Long],
      drift0: Double, exp: String => Double) {
    private var obsSum = 0.0
    private var expSum = 0.0
    private var measured = 0
    val runsHist = scala.collection.mutable.Map(1 -> 0, 2 -> 0, 3 -> 0)

    /** Observed-over-expected cost ratio; the env-provided prior until
      * three queries have been measured in this section.
      */
    def drift: Double =
      if (measured >= 3 && expSum > 0)
        math.min(20.0, math.max(0.3, obsSum / expSum))
      else drift0

    def observe(name: String, minSec: Double): Unit = {
      obsSum += minSec; expSum += exp(name); measured += 1
    }

    private def remainingSec: Double = deadlineMs match {
      case Some(d) => (d - System.currentTimeMillis()) / 1000.0
      case None    => Double.PositiveInfinity
    }

    /** True when the whole section fits at full fidelity (the cross-query
      * warmup pass ≈ one extra run per query) — decided once, up front.
      */
    def affordWarmup(allNames: Seq[String]): Boolean =
      remainingSec > 1.2 * 4.0 * allNames.map(exp).sum * drift

    /** Timed runs for the query at `idx`, given the un-measured tail:
      * the highest uniform level the remaining budget covers (floor 1 —
      * every query always runs; the budget can only trim repetition).
      * Control queries keep 3 runs unless even 1-run pace is broken.
      */
    def runsFor(idx: Int, tailNames: Seq[String]): Int = {
      val rest = tailNames.map(exp).sum * drift
      val rem = remainingSec
      val level =
        if (rem > 3.0 * rest * 1.1) 3
        else if (rem > 2.0 * rest * 1.1) 2
        else 1
      val n =
        if (idx % controlEvery == 0 && rem > rest) runsPerQuery
        else level
      runsHist(n) += 1
      n
    }
  }

  /** Run one section's queries in THIS JVM and return the measurements.
    * Shared by the child processes and the no-fork fallback.
    */
  private def runSection(spark: SparkSession, sfDir: String, section: String,
      keep: String => Boolean, deadlineMs: Option[Long], drift0: Double,
      diag: StringBuilder): Seq[Result] = {
    val stateMeter = new StateMeter
    spark.streams.addListener(stateMeter)
    val prevMin = previousMins()
    val fallbackCost =
      if (prevMin.isEmpty) 1.0
      else prevMin.values.toSeq.sorted.apply(prevMin.size / 2)

    def timeQueries(names: Iterable[String], executedFp: Boolean,
        backend: Option[String]): Seq[Result] = {
      def resolve(name: String)
          : (SparkSession, String) => org.apache.spark.sql.DataFrame = {
        val base = SparkEntry.queries(name)
        backend match {
          case Some(b) => (s, d) => QueryCatalog.withStateBackend(s, b)(base(s, d))
          case None    => base
        }
      }
      val sorted = names.toSeq.sorted
      def detailOf(n: String) = backend.map(b => s"$n@$b").getOrElse(n)
      val planner = new BudgetPlanner(deadlineMs, drift0,
        n => prevMin.getOrElse(detailOf(n), fallbackCost))
      // CROSS-QUERY warmup pass (untimed): one discarded run of every
      // query in the section BEFORE any timing. In the old single-JVM
      // bench a mid-suite query ran with hundreds of earlier queries'
      // worth of shared-JIT history (parser, optimizer, codegen compiler,
      // parquet reader); a fresh 70-query child starts cold, and the r7
      // diagnosis measured exactly that: the first ~15 queries of every
      // chunk ran ×1.6–1.9 vs the old floor and the rest ×1.3, with
      // per-query min-of-3 unable to recover cross-query warmth. The
      // warmup pass also absorbs fixture builds, so the timed runs are
      // uniform. Cost: one extra run per query — SKIPPED when the budget
      // planner says the section can't afford full fidelity (run 1 of each
      // query then absorbs its own cold cost and min-of-N recovers what it
      // can; the degraded mode is recorded in the section diag).
      val doWarmup = planner.affordWarmup(sorted)
      if (doWarmup) sorted.foreach { name =>
        val fn = resolve(name)
        spark.catalog.clearCache()
        org.apache.spark.sql.graftx.StateStoreHygiene.unloadAll()
        try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
      }
      val results = sorted.zipWithIndex.map { case (name, idx) =>
        val fn = resolve(name)
        val detailName = detailOf(name)
        stateMeter.reset()
        // Between queries: drop cached/checkpointed blocks left by fixture
        // builds and let a GC reclaim them, OUTSIDE the timed region. With
        // ~70 queries × multiple runs in one JVM the storage otherwise
        // accumulates until a full GC lands inside some innocent query's
        // timing (r3 dev run: a 0.3 s query measured at 52 s).
        spark.catalog.clearCache()
        // Evict state-store providers left loaded by earlier drains: a
        // terminated streaming query keeps its providers (RocksDB: native
        // memory off the Java heap) until a lazy maintenance tick, so
        // without this a drain's timing depends on which backends ran
        // before it — the r5 `q_stream_interp` +12% drift appeared exactly
        // when the RocksDB twins joined the section. Drains are cold-start
        // by construction (fresh checkpoints), so nothing reusable is lost.
        org.apache.spark.sql.graftx.StateStoreHygiene.unloadAll()
        System.gc()
        var lastDf: org.apache.spark.sql.DataFrame = null
        val nRuns = planner.runsFor(idx, sorted.drop(idx))
        val times = (1 to nRuns).map { _ =>
          val t0 = System.nanoTime()
          try { lastDf = fn(spark, sfDir); lastDf.count() }
          catch { case _: Throwable => lastDf = null; -1L }
          (System.nanoTime() - t0) / 1e9
        }
        planner.observe(name, times.min)
        // batch queries fingerprint a FRESH un-executed plan (stable across
        // rounds, matches the r1–r3 corpus of fingerprints); streaming
        // drains reuse the last timed result instead — a fresh fn() call
        // would re-run the whole drain just to look at the plan
        val fp =
          if (fpVolatile(name)) "volatile"
          else try {
            if (executedFp) { if (lastDf == null) "err" else planFingerprint(lastDf) }
            else planFingerprint(fn(spark, sfDir))
          } catch { case _: Throwable => "err" }
        // state metrics: drain the async bus so the drain's last progress
        // events are counted, then record the max footprint observed
        org.apache.spark.graftx.ListenerBusDrain.drain(spark.sparkContext)
        val (srows, smem) = stateMeter.snapshot
        Result(detailName, sectionLabel(section), backend.getOrElse("-"),
          times, fp, srows, smem)
      }
      diag.append(s"warmup=${if (doWarmup) 1 else 0}")
        .append(s" runs_hist=3:${planner.runsHist(3)}")
        .append(s",2:${planner.runsHist(2)},1:${planner.runsHist(1)}")
        .append(f" drift=${planner.drift}%.2f")
      results
    }

    section match {
      case s if s.startsWith("batch:") =>
        val i = s.stripPrefix("batch:").toInt
        val slice = batchNames(keep).slice(i * chunkSize, (i + 1) * chunkSize)
        timeQueries(slice, executedFp = false, backend = None)
      case "streaming" =>
        // drains/mutations build a fresh fixture + checkpoint per fn() call
        // (cold by construction) — every run is a full cold drain,
        // comparable round-over-round
        timeQueries(streamingNames(keep), executedFp = true, backend = None)
      case "rocksdb" =>
        // The BACKEND AXIS pass (r5 verdict task 4): every streaming drain
        // again on RocksDB state, recorded as `name@rocksdb` in its own
        // section so the headline streaming total stays comparable. The two
        // `_rocksdb` twin queries are skipped — they ARE that backend.
        timeQueries(rocksNames(keep), executedFp = true, backend = Some("rocksdb"))
      case other => sys.error(s"unknown bench section: $other")
    }
  }

  private def sectionLabel(section: String): String =
    if (section.startsWith("batch:")) "batch"
    else if (section == "rocksdb") "streaming_rocksdb"
    else "streaming"

  /** JIT code-cache occupancy (used, max) in MB — committed as per-section
    * evidence that the cache never filled (a full cache stops the JIT and
    * produces exactly the uniform-drift signature; r4/r6 post-mortems).
    */
  private def codeCacheMb(): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getName.startsWith("CodeHeap"))
    val used = pools.map(_.getUsage.getUsed.toDouble).sum / 1e6
    val max = pools.map(_.getUsage.getMax.toDouble).sum / 1e6
    (used, max)
  }

  // ------------------------------------------------------------- child mode

  /** TSV row shape written by a child (one per query, plus one `#diag`):
    * detailName, section, backend, fp, stateRows, stateMem, run times
    * comma-joined. TSV instead of JSON so the parent's merge needs no
    * parser beyond split.
    */
  private def childMain(sfDir: String, cpus: String, section: String,
      outPath: String, keep: String => Boolean): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // Plan TEXT truncation is fingerprint poison: Spark elides metadata
      // strings (DataFilters, Location) past 100 chars BEFORE our exprId
      // normalization, so the cut position depends on the raw exprId
      // widths — i.e. on how many queries ran earlier in the session and
      // on catalog size. r4→r5 false churn (q13/q14) was exactly this.
      // Print everything; the normalizer handles ids and temp paths.
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.sql.debug.maxToStringFields", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query doesn't absorb JIT +
    // session init cost (flagship on the smallest SF touches the same
    // read/agg machinery)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val deadlineMs = sys.env.get("SPARK_GRAFT_BENCH_SECTION_DEADLINE_MS")
      .map(_.toLong)
    val drift0 = sys.env.get("SPARK_GRAFT_BENCH_DRIFT")
      .map(_.toDouble).getOrElse(2.0)
    val planDiag = new StringBuilder
    val results = runSection(spark, sfDir, section, keep, deadlineMs, drift0,
      planDiag)
    val (ccUsed, ccMax) = codeCacheMb()
    val sb = new StringBuilder
    results.foreach { r =>
      sb.append(Seq(r.detailName, r.section, r.backend, r.fp,
        r.stateRows.toString, r.stateMem.toString,
        r.times.map(s3).mkString(",")).mkString("\t")).append('\n')
    }
    sb.append(s"#diag\t$section\tcode_cache_used_mb=${s3(ccUsed)}\tcode_cache_max_mb=${s3(ccMax)}\t$planDiag\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), sb.toString)
    spark.stop()
  }

  /** Spawn one child JVM for `section`, same classpath + JVM flags as this
    * process (sbt's forked run already carries the add-opens list, -Xmx and
    * the code-cache sizing from build.sbt). Child stdout is pumped to OUR
    * stderr so the parent's stdout stays exactly one contract line.
    * Returns true on a zero exit with the part file present.
    */
  private def spawnChild(section: String, outPath: String,
      sectionDeadlineMs: Long, drift: Double): Boolean = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
    // classpath via env (not -cp): the Spark-jars classpath is tens of KB,
    // safer off the arg line; java honors CLASSPATH when -cp is absent
    pb.environment().put("CLASSPATH", System.getProperty("java.class.path"))
    pb.environment().put("SPARK_GRAFT_BENCH_SECTION", section)
    pb.environment().put("SPARK_GRAFT_BENCH_PART_OUT", outPath)
    pb.environment().put("SPARK_GRAFT_BENCH_SECTION_DEADLINE_MS",
      sectionDeadlineMs.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_DRIFT", s3(drift))
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val pump = new Thread(() => {
      val in = proc.getInputStream
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { System.err.write(buf, 0, n); n = in.read(buf) }
    })
    pump.setDaemon(true); pump.start()
    val code = proc.waitFor()
    pump.join(2000)
    code == 0 && java.nio.file.Files.exists(java.nio.file.Paths.get(outPath))
  }

  // ---------------------------------------------------------------- parent

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev convenience: SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the run to
    // the named queries for drift isolation experiments; detail output then
    // goes to BENCH_DETAILS_subset.json so the committed per-round file
    // (and its plan-fingerprint baseline) is never clobbered by a subset
    // run. The driver always runs without it → full bench, normal file.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(n: String): Boolean = only.forall(_.contains(n))

    // child mode: run one section, write the part file, exit
    sys.env.get("SPARK_GRAFT_BENCH_SECTION") match {
      case Some(section) =>
        childMain(sfDir, cpus, section,
          sys.env("SPARK_GRAFT_BENCH_PART_OUT"), keep)
        return
      case None => ()
    }

    val detailPath =
      if (only.isEmpty) "BENCH_DETAILS.json" else "BENCH_DETAILS_subset.json"
    val prevFp = previousFingerprints()
    val fork = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1") != "0"
    val partDir = java.nio.file.Files.createTempDirectory("graft-bench")
    val diags = scala.collection.mutable.ArrayBuffer.empty[String]

    // ---- wall-clock budget (r10 post-mortem: the driver bench timed out
    // and the round's artifact was `parsed: null`). The budget is shared
    // across sections proportionally to their previous-round cost; each
    // child degrades run counts inside its slice (floor: 1 run per query).
    // default calibrated to the driver's observed tolerance: the r9 driver
    // bench PASSED at 45:22 wall, the r10 one was killed past ~60 min —
    // 2400 s of measurement plus ~5-7 min of sbt/JVM overhead lands ~40
    // min, inside the proven-good envelope with margin. On today's machine
    // the 1-run floor is ~33 min, so the ~7 min of headroom buys the
    // noise-control subset its 3 runs (and, on a faster machine, restores
    // full fidelity automatically).
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2400").toDouble
    val deadlineMs = System.currentTimeMillis() + (budgetSec * 1000).toLong
    val prevMin = previousMins()
    val fallbackCost =
      if (prevMin.isEmpty) 1.0
      else prevMin.values.toSeq.sorted.apply(prevMin.size / 2)
    def sectionExp(section: String): Double = {
      val detailNames = section match {
        case s if s.startsWith("batch:") =>
          val i = s.stripPrefix("batch:").toInt
          batchNames(keep).slice(i * chunkSize, (i + 1) * chunkSize)
        case "streaming" => streamingNames(keep)
        case "rocksdb"   => rocksNames(keep).map(_ + "@rocksdb")
        case other       => sys.error(s"unknown bench section: $other")
      }
      detailNames.map(n => prevMin.getOrElse(n, fallbackCost)).sum
    }
    // per-child fixed overhead (JVM + session init + flagship warmup),
    // reserved off the allocatable pool so late sections aren't starved
    // by earlier children's startup costs
    val childOverheadMs = 40000L
    // cross-section drift estimate: observed/previous min over everything
    // measured so far, seeding each child's planner prior (first child
    // gets the pessimistic default — cheap insurance on ~70 small queries)
    var driftObs = 0.0
    var driftPrev = 0.0
    var driftN = 0
    def driftEst: Double =
      if (driftN >= 5 && driftPrev > 0)
        math.min(20.0, math.max(0.3, driftObs / driftPrev))
      else sys.env.get("SPARK_GRAFT_BENCH_DRIFT")
        .map(_.toDouble).getOrElse(2.0)

    val plan = sectionPlan(keep)
    val results: Seq[Result] = plan.zipWithIndex.flatMap { case (section, i) =>
      val remaining = plan.drop(i)
      val wSum = remaining.map(sectionExp).sum
      val share =
        if (wSum > 0) sectionExp(section) / wSum else 1.0 / remaining.size
      val now = System.currentTimeMillis()
      val allocatable =
        math.max(0L, deadlineMs - now - childOverheadMs * remaining.size)
      val secDeadline = now + childOverheadMs + (allocatable * share).toLong
      val out = partDir.resolve(section.replace(':', '_') + ".tsv").toString
      val ok = fork && spawnChild(section, out, secDeadline, driftEst)
      val rs: Seq[Result] = if (ok) {
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(out))
        import scala.jdk.CollectionConverters._
        lines.asScala.toSeq.flatMap { l =>
          if (l.isEmpty) None
          else if (l.startsWith("#diag")) { diags += l; None }
          else {
            val f = l.split('\t')
            Some(Result(f(0), f(1), f(2),
              f(6).split(',').map(_.toDouble).toSeq, f(3),
              f(4).toLong, f(5).toLong))
          }
        }
      } else {
        // no-fork fallback (SPARK_GRAFT_BENCH_FORK=0, or a child failed to
        // launch): measure in-process — correct, but subject to the
        // accumulation drift the fork exists to prevent; flagged in diag
        if (fork) System.err.println(
          s"[bench] child JVM for $section failed — falling back in-process")
        val spark = SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.maxMetadataStringLength", "100000")
          .config("spark.sql.debug.maxToStringFields", "100000")
          .getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
        val planDiag = new StringBuilder
        val inProc = runSection(spark, sfDir, section, keep,
          Some(secDeadline), driftEst, planDiag)
        diags += s"#diag\t$section\tIN_PROCESS_FALLBACK\t$planDiag"
        inProc
      }
      rs.foreach { r =>
        prevMin.get(r.detailName).foreach { p =>
          driftObs += r.times.min; driftPrev += p; driftN += 1
        }
      }
      rs
    }

    val batch = results.filter(_.section == "batch")
    val streaming = results.filter(_.section == "streaming")
    val streamingRocks = results.filter(_.section == "streaming_rocksdb")

    // full per-query detail (runs + plan fingerprint) goes to a FILE — the
    // driver only captures a bounded stdout tail, so the contract line below
    // stays compact (3-decimal times) to fit inside it
    def detailJson(rs: Seq[Result]) =
      rs.map { r =>
        val state =
          if (r.stateRows >= 0)
            s""","state_rows":${r.stateRows},"state_mem_mb":${s3(r.stateMem / 1e6)}"""
          else ""
        s""""${r.detailName}":{"min_s":${s3(r.times.min)},"runs":[${r.times.map(s3).mkString(",")}],"plan_fp":"${r.fp}","section":"${r.section}","backend":"${r.backend}"$state}"""
      }
    val detail = detailJson(results).mkString("{", ",", "}")
    val total = batch.map(_.times.min).sum
    val streamingTotal = streaming.map(_.times.min).sum
    val rocksTotal = streamingRocks.map(_.times.min).sum
    // backend-equivalence gate on the state machine itself: the same drain
    // must hold the same LOGICAL state row count on either backend (only
    // the storage engine moves). Mismatches are listed for audit.
    val stateByName = results.map(r => r.detailName -> r.stateRows).toMap
    val stateMismatch = streamingRocks.map(_.detailName).flatMap { rn =>
      val base = rn.stripSuffix("@rocksdb")
      (stateByName.get(base), stateByName.get(rn)) match {
        case (Some(a), Some(b)) if a >= 0 && b >= 0 && a != b =>
          Some(s"$base:$a!=$b")
        case _ => None
      }
    }.sorted
    if (stateMismatch.nonEmpty)
      System.err.println(s"[bench] STATE ROWS DIFFER across backends: ${stateMismatch.mkString(", ")}")
    // plan-fingerprint regression gate — ALL sections including the rocksdb
    // axis (r6 advice: the @rocksdb fingerprints were written but never
    // compared, so backend-axis plan regressions went unreported).
    // Unexplained churn is a plan regression to audit, not a timing blip;
    // new queries (no previous fp) are not churn.
    val changed = results.collect {
      case r if prevFp.get(r.detailName).exists(p => p != r.fp) => r.detailName
    }.sorted
    val diagJson = diags.map { d =>
      "\"" + d.replace("#diag\t", "").replace("\t", " ").replace("\"", "'") + "\""
    }.mkString("[", ",", "]")
    val degraded = results.count(_.times.size < runsPerQuery)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      s"""{"sf":"$sfDir","cpus":$cpus,"total_s":${s3(total)},"streaming_total_s":${s3(streamingTotal)},"streaming_rocksdb_s":${s3(rocksTotal)},"runs_per_query":$runsPerQuery,"budget_sec":${s3(budgetSec)},"degraded_queries":$degraded,"jvm_sections":$diagJson,"state_rows_mismatch":${stateMismatch.map("\"" + _ + "\"").mkString("[", ",", "]")},"plan_changes":${changed.map("\"" + _ + "\"").mkString("[", ",", "]")},"queries":$detail}""")
    if (changed.nonEmpty)
      System.err.println(s"[bench] PLAN CHANGED vs previous round (${changed.size}): ${changed.mkString(", ")}")
    // the driver captures only a bounded stdout tail (~2.4 KB, shared with
    // sbt's trailing [success] line). The contract line must NEVER overflow
    // it — r2's did, and the driver recorded "parsed": null. Hard budget:
    // emit the total plus as many queries as fit, slowest first (the
    // informative ones); the complete per-query map lives in
    // BENCH_DETAILS.json, which is committed each round.
    val budget = 2000
    val entries = (batch ++ streaming).sortBy(-_.times.min)
      .map(r => s""""${r.detailName}":${s3(r.times.min)}""")
    def wrap(qs: Seq[String]): String =
      s"""{"metric":"total","value":${s3(total)},"unit":"sec","streaming_s":${s3(streamingTotal)},"plan_changes":${changed.size},"degraded_queries":$degraded,"queries":${qs.mkString("{", ",", "}")},"sf":"$sfDir","detail":"$detailPath"}"""
    var kept = entries
    while (wrap(kept).length > budget && kept.nonEmpty) kept = kept.dropRight(1)
    println(wrap(kept))
  }
}
