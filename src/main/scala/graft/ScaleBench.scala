package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The sf1 scale rehearsal (VERDICT r4 task 1): measure the flagship
  * families at sf0.01 → sf0.1 → sf1 (10× fixtures from [[ScaleFixtures]])
  * and write `BENCH_sf1.json` with wall time, shuffle bytes, and the
  * per-point scaling ratio — the empirical check behind every SCALE.md
  * argument. A family whose sf0.1→sf1 time ratio materially exceeds the
  * 10× data ratio is flagged `superlinear: true`; bucket/partition balance
  * for the three index families is measured (`q_bucket_stats` discipline),
  * not assumed.
  *
  * Interpretation note, recorded here because the numbers will show it:
  * at these absolute sizes (sf1 ≈ 26 MB of parquet) most families are
  * dominated by fixed per-job overhead (scheduling, codegen, file
  * listing), so ratios ≪ 10 are expected for the cheap families; the gate
  * is one-sided — sublinear is fine, superlinear is the failure signal.
  */
object ScaleBench {

  private final class ShuffleMeter extends SparkListener {
    val read = new AtomicLong(0L)
    val written = new AtomicLong(0L)
    val input = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    /** Drain the async listener bus first so the counters include every
      * completed stage of the action just measured (ADVICE r5) — without
      * the drain, late StageCompleted events leak into the NEXT window.
      */
    def snapshot(sc: org.apache.spark.SparkContext): (Long, Long) = {
      org.apache.spark.graftx.ListenerBusDrain.drain(sc)
      (read.get(), written.get())
    }
  }

  /** The flagship families (VERDICT r4's list): dedup, retrieval index +
    * batch probe, persisted ANN store build/append, the corpus pipeline,
    * ETL bulk load, and the three heaviest streaming drains. `runs` is
    * per-point; streaming drains get one (each run is a full cold drain —
    * minutes at sf1 — and cold-start noise is small relative to that).
    */
  private val families: Seq[(String, Int)] = Seq(
    "q_minhash_neardups" -> 2,
    "q_bm25_index" -> 2,
    "q_batch_retrieval" -> 2,
    "q_ivf_store" -> 2,
    "q_ivf_append" -> 2,
    "q_training_pipeline_v4" -> 2,
    "q_etl_bulk" -> 2,
    // DSIR selection: distribution fit is a 256-key conditional count,
    // scoring a map-only array lookup — the zero-shuffle shape should be
    // flat-per-byte across decades
    "q_importance_select" -> 2,
    // the graph/clustering tier (r5 verdict task 3): forced-distributed CC
    // (pointer-jumping loop, never the one-task shortcut), label
    // propagation, PageRank — the iterative-shuffle shapes unmeasured past
    // sf0.1 until now
    // 2 runs: with one, the sf0.1 point absorbed a stray pause (17.3 s vs
    // 9.8 s at sf1 with sanely-linear shuffle bytes) — min-of-2 restores a
    // comparable wall number for the iterative loop
    "q_cc_copurchase" -> 2,
    "q_label_prop" -> 2,
    "q_pagerank" -> 2,
    // r7-round operators promoted to decade coverage (r7 verdict task 7):
    // the persisted-manifest incremental drain and the two pooled
    // compaction maintenance passes (visual q=/qb= store, IVF cluster=
    // store). Their cost models are the steady-state story — drain ∝
    // pending data, compaction ∝ store bytes over a FIXED leaf count —
    // so the decade gate is the right check that neither hides a
    // history- or corpus-superlinear term.
    "q_etl_incr" -> 2,
    // r9-round drain modes promoted to decade coverage (r9 verdict task 3):
    // the ingest-journaled drain beside its listing-driven twin q_etl_incr
    // (the ×100-history point is the journal-vs-listing crossover that
    // justifies the journal), and the production SKIP_LATEST_MONTHS knob
    "q_etl_journal" -> 2,
    "q_etl_skip" -> 2,
    "q_visidx_compaction" -> 2,
    "q_ivfidx_compaction" -> 2,
    // r8-round maintenance pass promoted to decade coverage (r8 verdict
    // task 6): the postings-store compaction joins its two siblings
    "q_phraseidx_compaction" -> 2,
    "q_stream_attribution_outer" -> 1,
    // the RocksDB twin at 10x: the backend whose reason to exist IS scale —
    // measured beside the default store so the comparison rides the same
    // fixtures (identical results enforced by the shared oracle)
    "q_stream_attribution_outer_rocksdb" -> 1,
    "q_stream_dedup_hourly" -> 1,
    "q_stream_visual_gate" -> 1)

  def main(args: Array[String]): Unit = {
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/root/repo/scale/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SF1_FACTOR", "10").toInt
    // dev knobs for extra scale points (e.g. a 30x decade on the batch
    // families): filter the family list, redirect the output JSON
    val familyFilter = sys.env.get("SPARK_GRAFT_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
    val outJson = sys.env.getOrElse("SPARK_GRAFT_SCALE_JSON", "BENCH_sf1.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Section selection. Legacy values: "all" (families + extras) and
    // "families" (families only — decade re-runs). The r6-verdict probes
    // ("visual_drain", "manifest_append") are OPT-IN comma-list sections:
    // they write their own JSON keys and must not change what a decade
    // re-run measures.
    val sectionsEnv = sys.env.getOrElse("SPARK_GRAFT_SECTIONS", "all")
    val sections: Set[String] =
      if (sectionsEnv == "all") Set("families", "extras")
      else sectionsEnv.split(",").map(_.trim).toSet
    val fams = families
      .filter { case (name, _) => familyFilter.forall(_.contains(name)) }
    val famsRun = sections("families") && fams.nonEmpty
    val withExtras = sections("extras")

    // the sf1 fixture exists for families/extras; probe-only runs (which
    // measure at sf0.1) must not pay the generation
    if ((famsRun || withExtras) && !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$sf1Dir/documents.parquet"))) {
      ScaleFixtures.generate(spark, "/root/testdata/sf0.1", sf1Dir, factor)
    }
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    val points = Seq(
      "sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1",
      "sf1" -> sf1Dir)

    def s3(v: Double) = f"$v%.3f"

    val results = (if (sections("families")) fams else Seq.empty)
      .map { case (name, runs) =>
      val fn = SparkEntry.queries(name)
      val perPoint = points.map { case (label, dir) =>
        spark.catalog.clearCache()
        System.gc()
        var shuffle = (0L, 0L)
        var rows = 0L
        val times = (1 to runs).map { _ =>
          val before = meter.snapshot(spark.sparkContext)
          val t0 = System.nanoTime()
          rows = fn(spark, dir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val after = meter.snapshot(spark.sparkContext)
          // shuffle bytes of the LAST run (fixture-build stages amortize
          // away on the second run for the batch families)
          shuffle = (after._1 - before._1, after._2 - before._2)
          dt
        }
        (label, times.min, shuffle, rows)
      }
      val t01 = perPoint.find(_._1 == "sf0.1").get._2
      val t1 = perPoint.find(_._1 == "sf1").get._2
      val ratio = t1 / math.max(t01, 1e-9)
      // RESULT cardinality growth separates input scaling from output
      // scaling: a pair-emitting family whose true-duplicate structure is
      // quadratic in the fixture (fixed visual-group count) will show
      // rows_ratio ≈ factor² — time/shuffle tracking the OUTPUT there is
      // output-bound behavior, not a scale defect
      val r01 = perPoint.find(_._1 == "sf0.1").get._4
      val r1 = perPoint.find(_._1 == "sf1").get._4
      val rowsRatio = r1.toDouble / math.max(r01.toDouble, 1.0)
      // one-sided gate with headroom: fixed overhead + measurement noise
      // can push a sub-second family around, so flag only a time ratio
      // beyond BOTH the data factor and the output growth by >30%
      val superlinear = ratio > math.max(factor.toDouble, rowsRatio) * 1.3
      val pts = perPoint.map { case (l, t, (sr, sw), n) =>
        s""""$l":{"sec":${s3(t)},"rows":$n,"shuffle_read_mb":${s3(sr / 1e6)},"shuffle_write_mb":${s3(sw / 1e6)}}"""
      }.mkString(",")
      System.err.println(f"[scale] $name%-28s sf0.1=${t01}%.2fs sf1=${t1}%.2fs ratio=${ratio}%.2f")
      s""""$name":{$pts,"ratio_sf01_to_sf1":${s3(ratio)},"rows_ratio_sf01_to_sf1":${s3(rowsRatio)},"superlinear":$superlinear}"""
    }

    // ---- bucket/partition balance at sf1 (measured, not assumed) -------
    // SPARK_GRAFT_SECTIONS=families skips the balance/ETL/CC-merge extras:
    // decade re-runs (sf3/sf10, family-filtered) already have those
    // sections in their committed JSON and shouldn't re-pay them — the
    // CC-merge probe alone holds a ~7 min from-scratch anchor run.
    import spark.implicits._

    // Crash-resilient output: the out file is (re)written after EVERY
    // completed section, so a late section's failure can never lose an
    // earlier section's measurements (the r7 manifest-probe assert cost a
    // 31-minute visual-drain rerun exactly this way).
    var tailParts = Vector.empty[String]
    def flush(): Unit = {
      val json =
        s"""{"factor":$factor,"sf1_dir":"$sf1Dir","cpus":$cpus,"families":${results.mkString("{", ",", "}")}${tailParts.mkString}}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outJson), json)
      ()
    }
    flush()

    val extrasJson: String = if (!withExtras) "" else {

    def balanceOf(counts: org.apache.spark.sql.DataFrame): String = {
      // counts: (bucket, n). Skew = max/mean; p99 via exact sort (bucket
      // cardinality is bounded: bands × hash buckets or k clusters).
      val r = counts.agg(
        count(lit(1)).as("n_buckets"),
        max(col("n")).cast("double").as("mx"),
        avg(col("n")).as("mean")).head()
      val skew = r.getDouble(1) / math.max(r.getDouble(2), 1e-9)
      s"""{"n_buckets":${r.getLong(0)},"max":${r.getDouble(1).toLong},"mean":${s3(r.getDouble(2))},"skew_max_over_mean":${s3(skew)}}"""
    }

    val docs1 = Tables.documents(spark, sf1Dir)
    val bandBalance = balanceOf(
      graft.dedup.Dedup.minHashBands(docs1)
        .groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("n")))

    val emb1 = Tables.embeddings(spark, sf1Dir)
    val cents = graft.similarity.KMeansIvf.fit(emb1, k = 16, iters = 3)
    val ivfBalance = balanceOf(
      graft.similarity.KMeansIvf.index(emb1, cents)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n")))

    val bm25Stats = SparkEntry.queries("q_bucket_stats")(spark, sf1Dir)
    val bm25Unbalanced =
      bm25Stats.filter(!col("balanced")).count()
    val bm25Balance = balanceOf(
      bm25Stats.select(col("bucket"), col("n_postings").as("n")))

    val balance =
      s""""minhash_band_buckets":$bandBalance,"ivf_clusters":$ivfBalance,"bm25_token_buckets":$bm25Balance,"bm25_unbalanced_buckets":$bm25Unbalanced"""

    // ---- ETL steady-state: loop-iteration cost vs history size ---------
    // (r5 verdict tasks 1+2.) H1 = sf0.1 orders (~80 months) in a time-
    // ordered lake layout; H10 = ten date-shifted replicas (~800 months,
    // SAME per-month volume, 10× files). A manifest-pruned month copy must
    // cost ~the same under both (reads a file subset); the unpruned copy
    // re-scans history and is expected to grow ~10×. Also: the salted bulk
    // backfill's rows-per-file balance (max/mean gate).
    val etlJson = {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-scale-etl").toString
      val orders01 = Tables.orders(spark, "/root/testdata/sf0.1")
      def writeHist(mult: Int, dir: String): Unit = {
        val reps = (0 until mult).map { k =>
          // +2600 days per replica ≈ +7.1 years: month ranges never overlap
          orders01.withColumn("o_orderdate",
            date_add(col("o_orderdate"), k * 2600))
        }.reduce(_ unionByName _)
        reps.repartitionByRange(8 * mult, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.parquet(dir)
      }
      writeHist(1, s"$tmpRoot/h1")
      writeHist(10, s"$tmpRoot/h10")
      // wall time at this fixture size is job-overhead-bound (~0.5 s fixed),
      // so the scale-faithful signal is BYTES READ per iteration: the
      // pruned copy's input must stay flat as history grows 10×, while the
      // unpruned copy's input grows with history. Bytes are deterministic;
      // seconds at 100 TB follow bytes.
      def inputBytes(f: => Unit): Long = {
        val b = { org.apache.spark.graftx.ListenerBusDrain.drain(spark.sparkContext); meter.input.get() }
        f
        org.apache.spark.graftx.ListenerBusDrain.drain(spark.sparkContext)
        meter.input.get() - b
      }
      def probe(srcDir: String): (Double, Double, Long, Long, Int, Int) = {
        val src = spark.read.parquet(srcDir)
        val cfg = graft.etl.JobConfig(tableName = "orders", numMappers = 4)
        val dest = s"$tmpRoot/dest-${srcDir.split('/').last}"
        val job = new graft.etl.IncrementalBackup(spark, cfg,
          new graft.etl.StatusStore(spark, s"$dest/status"), s"$dest/out")
        val months = src
          .select(graft.operators.ReferenceOps.monthSid(col("o_orderdate")).as("m"))
          .distinct().as[Long].collect().sorted
        val mid = months(months.length / 2)
        job.discover(src)
        val stats = graft.sources.StatsStore.collectExpr(
          spark, srcDir, Seq("pid" -> job.pidKey(src.schema))).cache()
        stats.count()
        val nPruned = job.prunedFiles(stats, mid).size
        val nTotal = src.inputFiles.length
        // two timed copies each (overwrite-idempotent), min: absorbs codegen
        val tP = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          job.copyPartitionPruned(srcDir, stats, mid)
          (System.nanoTime() - t0) / 1e9
        }.min
        val tF = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          job.copyPartition(src, mid)
          (System.nanoTime() - t0) / 1e9
        }.min
        // bytes of the DATA slice read alone (the part that scales with
        // history): the API-level copy also re-reads the partition-list-
        // sized status store, which is O(months) noise at this fixture size
        val files = job.prunedFiles(stats, mid)
        val bP = inputBytes {
          val sub = spark.read.parquet(files: _*)
          sub.filter(job.pidCol(sub) === mid).count(); ()
        }
        val bF = inputBytes {
          src.filter(job.pidCol(src) === mid).count(); ()
        }
        stats.unpersist()
        (tP, tF, bP, bF, nPruned, nTotal)
      }
      val (p1, f1, bp1, bf1, n1, t1e) = probe(s"$tmpRoot/h1")
      val (p10, f10, bp10, bf10, n10, t10e) = probe(s"$tmpRoot/h10")
      System.err.println(f"[scale] etl_history_growth pruned ${p1}%.2fs/${bp1 / 1e6}%.1fMB -> ${p10}%.2fs/${bp10 / 1e6}%.1fMB (files $n10/$t10e), full ${f1}%.2fs/${bf1 / 1e6}%.1fMB -> ${f10}%.2fs/${bf10 / 1e6}%.1fMB")
      // salted bulk backfill balance on the h1 source
      val bcfg = graft.etl.JobConfig(tableName = "orders", numMappers = 4)
      val bdest = s"$tmpRoot/bulk"
      val bjob = new graft.etl.IncrementalBackup(spark, bcfg,
        new graft.etl.StatusStore(spark, s"$bdest/status"), s"$bdest/out")
      bjob.runBulk(spark.read.parquet(s"$tmpRoot/h1"))
      val bulkBalance = balanceOf(
        bjob.readBack().select(input_file_name().as("f"))
          .groupBy(col("f")).agg(count(lit(1)).as("n")))
      // The salt's own gate is WITHIN-pid balance: global max/mean across
      // all files mixes month-volume variance (pids differ in size by
      // design) into the ratio. Per pid: rows split across its ≤numMappers
      // salted files; skew = max/mean within that pid; report the worst
      // and average pid so a single hot-key month can't hide.
      val withinPid = bjob.readBack()
        .select(col("pid"), input_file_name().as("f"))
        .groupBy(col("pid"), col("f")).agg(count(lit(1)).as("n"))
        .groupBy(col("pid"))
        .agg((max(col("n")) / avg(col("n"))).as("skew"),
          count(lit(1)).as("files"))
        .agg(count(lit(1)).as("n_pids"), max(col("skew")).as("worst"),
          avg(col("skew")).as("mean_skew"), min(col("files")).as("min_files"))
        .head()
      val bulkWithinPid =
        s"""{"n_pids":${withinPid.getLong(0)},"worst_skew_max_over_mean":${s3(withinPid.getDouble(1))},"mean_skew":${s3(withinPid.getDouble(2))},"min_files_per_pid":${withinPid.getLong(3)}}"""
      s""""etl_history_growth":{"h1_pruned_s":${s3(p1)},"h10_pruned_s":${s3(p10)},"pruned_time_ratio":${s3(p10 / math.max(p1, 1e-9))},"h1_full_s":${s3(f1)},"h10_full_s":${s3(f10)},"h1_pruned_read_mb":${s3(bp1 / 1e6)},"h10_pruned_read_mb":${s3(bp10 / 1e6)},"pruned_bytes_ratio":${s3(bp10.toDouble / math.max(bp1.toDouble, 1.0))},"h1_full_read_mb":${s3(bf1 / 1e6)},"h10_full_read_mb":${s3(bf10 / 1e6)},"full_bytes_ratio":${s3(bf10.toDouble / math.max(bf1.toDouble, 1.0))},"h1_files_read":$n1,"h1_files_total":$t1e,"h10_files_read":$n10,"h10_files_total":$t10e},"etl_bulk_file_balance":$bulkBalance,"etl_bulk_within_pid":$bulkWithinPid"""
    }

    // ---- incremental CC: wave cost vs label-history size ---------------
    // The merge() claim is "a wave's cost tracks the wave, not history".
    // The co-purchase fixtures can't test it (scale replicas reuse the
    // part-key space, so the label table doesn't grow with the factor), so
    // the history axis is synthetic: a label table of N nodes in N/10
    // ten-node components, at N=1M (H1) and N=10M (H10), with the SAME
    // fixed 10k-edge wave (node ids < 890k, inside both histories). merge
    // is timed against both; from-scratch CC over the H10 history's edge
    // list (star edges — the cheapest edge set consistent with the
    // labels, so the comparison favors from-scratch) anchors what
    // re-clustering would cost instead.
    val ccMergeJson = {
      def hist(n: Long) = spark.range(n)
        .select(col("id"), (col("id") - pmod(col("id"), lit(10L))).as("component"))
      val wave = spark.range(10000L)
        .select((col("id") * 89L).as("src"), (col("id") * 89L + 7L).as("dst"))
        .localCheckpoint()
      def timeMerge(n: Long): Double = {
        val labels = hist(n).localCheckpoint()
        (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          graft.operators.ConnectedComponents.merge(labels, wave).count()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      val m1 = timeMerge(1000000L)
      val m10 = timeMerge(10000000L)
      val scratch10 = {
        val star = hist(10000000L)
          .select(col("id").as("src"), col("component").as("dst"))
          .unionByName(wave.select(col("src"), col("dst")))
          .localCheckpoint()
        val t0 = System.nanoTime()
        graft.operators.ConnectedComponents(star).count()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[scale] cc_merge_history h1=${m1}%.2fs h10=${m10}%.2fs (x${m10 / m1}%.2f for x10 history), from-scratch h10=${scratch10}%.2fs")
      s""""cc_merge_history":{"wave_edges":10000,"h1_nodes":1000000,"h10_nodes":10000000,"h1_merge_s":${s3(m1)},"h10_merge_s":${s3(m10)},"history_time_ratio":${s3(m10 / math.max(m1, 1e-9))},"h10_scratch_s":${s3(scratch10)},"merge_speedup_vs_scratch":${s3(scratch10 / math.max(m10, 1e-9))}}"""
    }

    s""","balance":{$balance},$etlJson,$ccMergeJson"""
    }

    // ---- visual gate: 50-micro-batch drain, file growth + probe latency
    // (r6 verdict task 7). A 24/7 perceptual ingest gate appends one small
    // parquet layer per (q, qb) partition per batch; without maintenance
    // the store's file count grows linearly and the probe pays the listing
    // + open cost of every layer. Two regimes over IDENTICAL batches:
    // never compact vs compactPartitions every 10 batches. The gate's
    // emitted pair count must be identical in both (compaction is
    // result-invariant); the evidence sought is probe latency FLAT under
    // maintenance while file count saws between compactions.
    tailParts :+= extrasJson; flush()

    val visualJson: String = if (!sections("visual_drain")) "" else {
      val dir = "/root/testdata/sf0.1"
      val tmp = java.nio.file.Files.createTempDirectory("graft-visdrain").toString
      val batches = 50
      // signatures once, checkpointed: decode cost is per-image and
      // identical across regimes — the probe isolates INDEX maintenance
      val sigs = graft.multimodal.Multimodal.imageDhash(
        QueryCatalog.imagePayloadsFixture(spark, dir)).localCheckpoint()
      def countFiles(root: String): Int = {
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
        var n = 0
        while (it.hasNext) {
          if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        }
        n
      }
      def regime(compactEvery: Int): (Seq[Double], Seq[Int], Long, Double) = {
        val idx = s"$tmp/idx-$compactEvery"
        graft.multimodal.VisualIndex.build(
          sigs.filter(col("doc_id") < 250), idx)
        var pairs = 0L
        var compactS = 0.0
        val perBatch = (0 until batches).map { b =>
          val batch = sigs.filter(col("doc_id") >= 250 &&
            pmod(col("doc_id"), lit(batches.toLong)) === b)
          val t0 = System.nanoTime()
          pairs += graft.multimodal.VisualIndex
            .gateBatch(batch, spark, idx, maxHamming = 3).count()
          val probeS = (System.nanoTime() - t0) / 1e9
          graft.multimodal.VisualIndex.append(batch, idx)
          if (compactEvery > 0 && (b + 1) % compactEvery == 0) {
            val c0 = System.nanoTime()
            // the 256 leaf rewrites are independent — pool them like the
            // drain's month copies (sequential: 44 s/pass measured, all of
            // it per-job latency on tiny files)
            graft.sources.Compaction.compactPartitions(spark, idx,
              targetBytes = 64L * 1024 * 1024, maxParallel = 8)
            compactS += (System.nanoTime() - c0) / 1e9
          }
          (probeS, countFiles(idx))
        }
        (perBatch.map(_._1), perBatch.map(_._2), pairs, compactS)
      }
      val (pN, fN, pairsN, _) = regime(0)
      val (pC, fC, pairsC, compactS) = regime(10)
      def avg(xs: Seq[Double]) = xs.sum / xs.size
      val firstN = avg(pN.take(5)); val lastN = avg(pN.takeRight(5))
      val firstC = avg(pC.take(5)); val lastC = avg(pC.takeRight(5))
      System.err.println(f"[scale] visual_drain no-compact probe ${firstN}%.2f->${lastN}%.2fs files ${fN.last}; compacted ${firstC}%.2f->${lastC}%.2fs files ${fC.last} (maintenance ${compactS}%.1fs, pairs equal=${pairsN == pairsC})")
      val arr = (xs: Seq[Double]) => xs.map(s3).mkString("[", ",", "]")
      val arrI = (xs: Seq[Int]) => xs.mkString("[", ",", "]")
      s""","visual_drain":{"batches":$batches,"pairs_equal":${pairsN == pairsC},"no_compact":{"probe_s":${arr(pN)},"files":${arrI(fN)},"first5_avg_s":${s3(firstN)},"last5_avg_s":${s3(lastN)}},"compact_every_10":{"probe_s":${arr(pC)},"files":${arrI(fC)},"first5_avg_s":${s3(firstC)},"last5_avg_s":${s3(lastC)},"maintenance_total_s":${s3(compactS)}}}"""
    }

    // ---- manifest maintenance cost vs history size (r6 verdict task 4's
    // bench row): prior manifest PERSISTED (steady state reads it back,
    // never re-derives it), the same fixed wave lands in a 1× and a 10×
    // history, and the timed collectExprAppend must cost ~the wave in
    // both — while the full rebuild it replaces scans the whole history.
    tailParts :+= visualJson; flush()

    val manifestJson: String = if (!sections("manifest_append")) "" else {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-scale-man").toString
      val orders01 = Tables.orders(spark, "/root/testdata/sf0.1")
      def writeHist(mult: Int, dir: String): Unit = {
        val reps = (0 until mult).map { k =>
          orders01.withColumn("o_orderdate",
            date_add(col("o_orderdate"), k * 2600))
        }.reduce(_ unionByName _)
        reps.repartitionByRange(8 * mult, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.parquet(dir)
      }
      writeHist(1, s"$tmpRoot/h1")
      writeHist(10, s"$tmpRoot/h10")
      // the fixed arriving wave: the data's own FIRST month (testdata date
      // ranges drift between rounds — a hardcoded cutoff once produced an
      // EMPTY wave here), shifted past both histories' ranges, 2 files
      val cut = orders01
        .agg(date_add(min(col("o_orderdate")), 31).as("c")).head().getDate(0)
      val wave = orders01.filter(col("o_orderdate") < lit(cut))
        .withColumn("o_orderdate", date_add(col("o_orderdate"), 260000))
      require(wave.count() > 0, "wave slice is empty — date derivation bug")
      wave.repartition(2).write.parquet(s"$tmpRoot/wave")
      def inputBytes(f: => Unit): Long = {
        org.apache.spark.graftx.ListenerBusDrain.drain(spark.sparkContext)
        val b = meter.input.get(); f
        org.apache.spark.graftx.ListenerBusDrain.drain(spark.sparkContext)
        meter.input.get() - b
      }
      def land(histDir: String): Unit = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmpRoot/wave"))
        try st.forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(p, java.nio.file.Paths.get(histDir,
              s"wv-${p.getFileName}"))
        } finally st.close()
      }
      def probe(histDir: String): (Double, Long, Long, Double) = {
        val pid = Seq("pid" -> graft.sources.StatsStore.Key.MonthOf("o_orderdate"))
        // steady state: manifest persisted, read back cold
        graft.sources.StatsStore.collectExpr(spark, histDir, pid)
          .coalesce(1).write.parquet(s"$histDir-manifest")
        val prior = spark.read.parquet(s"$histDir-manifest")
        land(histDir)
        var n = 0L
        val t0 = System.nanoTime()
        val bytes = inputBytes {
          n = graft.sources.StatsStore
            .collectExprAppend(spark, histDir, pid, prior).count()
        }
        val t = (System.nanoTime() - t0) / 1e9
        // the anchor: what the pre-r7 drain paid instead (full rebuild)
        var rebuildBytes = 0L
        val r0 = System.nanoTime()
        rebuildBytes = inputBytes {
          graft.sources.StatsStore.collectExpr(spark, histDir, pid).count(); ()
        }
        val rebuildS = (System.nanoTime() - r0) / 1e9
        // listed AFTER landing (a pre-landing DataFrame's file index is a
        // snapshot and would under-count)
        val filesNow = spark.read.parquet(histDir).inputFiles.length
        assert(n == filesNow,
          s"manifest rows $n != $filesNow files after landing")
        (t, bytes, rebuildBytes, rebuildS)
      }
      val (t1, b1, rb1, rs1) = probe(s"$tmpRoot/h1")
      val (t10, b10, rb10, rs10) = probe(s"$tmpRoot/h10")
      // WRITE bytes (r8 verdict's missing #1): with the log-structured
      // manifest a drain WRITES only its delta (∝ the wave), never the
      // full manifest (∝ history) — the checkpoint fold, ∝ history, is
      // paid 1/k of the time and reported beside it for honesty
      def du(dir: String): Long = {
        val p = new org.apache.hadoop.fs.Path(dir)
        val dfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!dfs.exists(p)) 0L else dfs.getContentSummary(p).getLength
      }
      def probeWrite(histDir: String, tag: String): (Double, Long, Long, Long, Long) = {
        val cfg = graft.etl.JobConfig(tableName = s"wm$tag",
          numMappers = 2, outputFileFormat = "parquet")
        val job = new graft.etl.IncrementalBackup(spark, cfg,
          new graft.etl.StatusStore(spark, s"$tmpRoot/wst-$tag"),
          s"$tmpRoot/wdest-$tag")
        job.refreshManifest(histDir) // initial full build + checkpoint
        val ckptBytes = du(job.manifestPath)
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmpRoot/wave"))
        try st.forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(p, java.nio.file.Paths.get(histDir,
              s"wv2-${p.getFileName}"))
        } finally st.close()
        val before = du(job.manifestPath)
        val t0 = System.nanoTime()
        job.refreshManifest(histDir)
        val t = (System.nanoTime() - t0) / 1e9
        // r9 verdict task 1's gauge: DRIVER-localized checkpoint rows for a
        // one-month consumer (the per-month copy's read), vs the rows the
        // checkpoint holds — localized must stay flat across ×10 history
        // while the total grows with it
        val m = orders01.agg(min(graft.operators.ReferenceOps
          .monthSid(col("o_orderdate"))).as("m")).head().getLong(0)
        val loc = new graft.sources.ManifestLog(spark, job.manifestPath)
          .localizedPruned((mn, mx) => mx >= m && mn <= m)
        (t, du(job.manifestPath) - before, ckptBytes,
          loc.checkpointRowsRead, loc.checkpointRowsTotal)
      }
      val (wt1, wb1, wc1, wl1, wtot1) = probeWrite(s"$tmpRoot/h1", "1")
      val (wt10, wb10, wc10, wl10, wtot10) = probeWrite(s"$tmpRoot/h10", "10")
      System.err.println(f"[scale] manifest_append h1=${t1}%.2fs/${b1 / 1e6}%.1fMB h10=${t10}%.2fs/${b10 / 1e6}%.1fMB (x${t10 / math.max(t1, 1e-9)}%.2f time, x${b10.toDouble / math.max(b1.toDouble, 1.0)}%.2f bytes); full rebuild h10=${rs10}%.2fs/${rb10 / 1e6}%.1fMB; delta write h1=${wb1 / 1e3}%.1fKB h10=${wb10 / 1e3}%.1fKB (x${wb10.toDouble / math.max(wb1.toDouble, 1.0)}%.2f) vs checkpoint h10=${wc10 / 1e3}%.1fKB; localized rows h1=$wl1/$wtot1 h10=$wl10/$wtot10 (x${wl10.toDouble / math.max(wl1.toDouble, 1.0)}%.2f)")
      s""","manifest_append":{"wave_files":2,"h1_append_s":${s3(t1)},"h10_append_s":${s3(t10)},"append_time_ratio":${s3(t10 / math.max(t1, 1e-9))},"h1_append_read_mb":${s3(b1 / 1e6)},"h10_append_read_mb":${s3(b10 / 1e6)},"append_bytes_ratio":${s3(b10.toDouble / math.max(b1.toDouble, 1.0))},"h1_rebuild_s":${s3(rs1)},"h10_rebuild_s":${s3(rs10)},"h1_rebuild_read_mb":${s3(rb1 / 1e6)},"h10_rebuild_read_mb":${s3(rb10 / 1e6)},"h1_delta_write_kb":${s3(wb1 / 1e3)},"h10_delta_write_kb":${s3(wb10 / 1e3)},"delta_write_ratio":${s3(wb10.toDouble / math.max(wb1.toDouble, 1.0))},"h1_refresh_s":${s3(wt1)},"h10_refresh_s":${s3(wt10)},"h1_checkpoint_kb":${s3(wc1 / 1e3)},"h10_checkpoint_kb":${s3(wc10 / 1e3)},"h1_localized_rows":$wl1,"h10_localized_rows":$wl10,"localized_ratio":${s3(wl10.toDouble / math.max(wl1.toDouble, 1.0))},"h1_ckpt_rows":$wtot1,"h10_ckpt_rows":$wtot10}"""
    }

    tailParts :+= manifestJson; flush()

    def countParquetFiles(root: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    def s3arr(xs: Seq[Double]) = xs.map(s3).mkString("[", ",", "]")
    def iarr(xs: Seq[Int]) = xs.mkString("[", ",", "]")
    def avgD(xs: Seq[Double]) = xs.sum / xs.size

    // ---- IVF store: 50-wave append drain, file growth + probe latency
    // (r7 verdict task 2's bench row — the vector twin of visual_drain).
    // A 24/7 embedding ingest appends one parquet layer per cluster=
    // inverted list per wave; two regimes over IDENTICAL waves: never
    // compact vs IvfStore.compact every 10. Probe-result checksums must be
    // identical wave-for-wave (compaction is result-invariant); the
    // evidence sought is probe latency flat under maintenance while file
    // count saws between compactions.
    val ivfJson: String = if (!sections("ivf_drain")) "" else {
      val dir = "/root/testdata/sf0.1"
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivfdrain").toString
      // dev knob for smoke runs; the committed BENCH_MAINT uses the default
      val waves = sys.env.getOrElse("SPARK_GRAFT_IVF_WAVES", "50").toInt
      val emb = Tables.embeddings(spark, dir).localCheckpoint()
      val base = emb.filter(col("vec_id") < 1000)
      val cents = graft.similarity.KMeansIvf.fit(base, k = 16, iters = 3)
      val queries = emb.filter(col("vec_id") < 5).localCheckpoint()
      def regime(compactEvery: Int): (Seq[Double], Seq[Int], Seq[Long], Double) = {
        val idx = s"$tmp/idx-$compactEvery"
        graft.similarity.IvfStore.build(base, idx, cents)
        var compactS = 0.0
        val per = (0 until waves).map { w =>
          val wave = emb.filter(col("vec_id") >= 1000 &&
            pmod(col("vec_id"), lit(waves.toLong)) === w)
          graft.similarity.IvfStore.append(wave, idx)
          val t0 = System.nanoTime()
          // order-independent result checksum over ids+rank (cos is a
          // deterministic function of them; excluded only to keep the
          // checksum integer-exact)
          val chk = graft.similarity.IvfStore
            .probe(queries, idx, k = 10, nprobe = 4)
            .agg(sum(hash(col("query_id"), col("neighbor_id"), col("rk"))
              .cast("long")).as("chk")).head().getLong(0)
          val probeS = (System.nanoTime() - t0) / 1e9
          if (compactEvery > 0 && (w + 1) % compactEvery == 0) {
            val c0 = System.nanoTime()
            graft.similarity.IvfStore.compact(spark, idx,
              targetBytes = 64L * 1024 * 1024, maxParallel = 8)
            compactS += (System.nanoTime() - c0) / 1e9
          }
          (probeS, countParquetFiles(s"$idx/vectors"), chk)
        }
        (per.map(_._1), per.map(_._2), per.map(_._3), compactS)
      }
      val (pN, fN, cN, _) = regime(0)
      val (pC, fC, cC, compactS) = regime(10)
      val resultsEqual = cN == cC
      System.err.println(f"[scale] ivf_drain no-compact probe ${avgD(pN.take(5))}%.2f->${avgD(pN.takeRight(5))}%.2fs files ${fN.last}; compacted ${avgD(pC.take(5))}%.2f->${avgD(pC.takeRight(5))}%.2fs files ${fC.last} (maintenance ${compactS}%.1fs, results equal=$resultsEqual)")
      s""","ivf_drain":{"waves":$waves,"results_equal":$resultsEqual,"no_compact":{"probe_s":${s3arr(pN)},"files":${iarr(fN)},"first5_avg_s":${s3(avgD(pN.take(5)))},"last5_avg_s":${s3(avgD(pN.takeRight(5)))}},"compact_every_10":{"probe_s":${s3arr(pC)},"files":${iarr(fC)},"first5_avg_s":${s3(avgD(pC.take(5)))},"last5_avg_s":${s3(avgD(pC.takeRight(5)))},"maintenance_total_s":${s3(compactS)}}}"""
    }
    tailParts :+= ivfJson; flush()

    // ---- positional postings store: 50-wave append drain (the text twin
    // of ivf_drain; closes the last append-mode index without a measured
    // maintenance story). Each wave appends one small-file layer per
    // token_bucket= partition; two regimes over identical waves, phrase
    // probes checksummed wave-for-wave.
    val pidxJson: String = if (!sections("pidx_drain")) "" else {
      val dir = "/root/testdata/sf0.1"
      val tmp = java.nio.file.Files.createTempDirectory("graft-pidxdrain").toString
      // own knob (r8 ADVICE: this section reused SPARK_GRAFT_IVF_WAVES, so
      // tuning the IVF drain silently changed the postings bench too)
      val waves = sys.env.getOrElse("SPARK_GRAFT_PIDX_WAVES", "50").toInt
      val docs = Tables.documents(spark, dir).localCheckpoint()
      val terms = Seq("join", "order")
      def regime(compactEvery: Int): (Seq[Double], Seq[Int], Seq[Long], Double) = {
        val idx = s"$tmp/idx-$compactEvery"
        graft.functions.Bm25.writeIndex(
          graft.functions.Bm25.buildPositionalIndex(
            docs.filter(col("doc_id") < 1000)), idx)
        var compactS = 0.0
        val per = (0 until waves).map { w =>
          val wave = docs.filter(col("doc_id") >= 1000 &&
            pmod(col("doc_id"), lit(waves.toLong)) === w)
          graft.functions.Bm25.appendIndex(
            graft.functions.Bm25.buildPositionalIndex(wave), idx)
          val t0 = System.nanoTime()
          val chk = graft.functions.Bm25.phraseSearch(
              graft.functions.Bm25.probePositionalIndex(spark, idx, terms), terms)
            .agg(sum(hash(col("doc_id"), col("n_hits"), col("first_pos"))
              .cast("long")).as("chk")).head().getLong(0)
          val probeS = (System.nanoTime() - t0) / 1e9
          if (compactEvery > 0 && (w + 1) % compactEvery == 0) {
            val c0 = System.nanoTime()
            graft.sources.Compaction.compactPartitions(spark, idx,
              targetBytes = 64L * 1024 * 1024, maxParallel = 8)
            compactS += (System.nanoTime() - c0) / 1e9
          }
          (probeS, countParquetFiles(idx), chk)
        }
        (per.map(_._1), per.map(_._2), per.map(_._3), compactS)
      }
      val (pN, fN, cN, _) = regime(0)
      val (pC, fC, cC, compactS) = regime(10)
      val resultsEqual = cN == cC
      System.err.println(f"[scale] pidx_drain no-compact probe ${avgD(pN.take(5))}%.2f->${avgD(pN.takeRight(5))}%.2fs files ${fN.last}; compacted ${avgD(pC.take(5))}%.2f->${avgD(pC.takeRight(5))}%.2fs files ${fC.last} (maintenance ${compactS}%.1fs, results equal=$resultsEqual)")
      s""","pidx_drain":{"waves":$waves,"results_equal":$resultsEqual,"no_compact":{"probe_s":${s3arr(pN)},"files":${iarr(fN)},"first5_avg_s":${s3(avgD(pN.take(5)))},"last5_avg_s":${s3(avgD(pN.takeRight(5)))}},"compact_every_10":{"probe_s":${s3arr(pC)},"files":${iarr(fC)},"first5_avg_s":${s3(avgD(pC.take(5)))},"last5_avg_s":${s3(avgD(pC.takeRight(5)))},"maintenance_total_s":${s3(compactS)}}}"""
    }
    tailParts :+= pidxJson; flush()

    // ---- steady-state SOAK (r7 verdict task 6): 24 full production
    // cycles — land a month's files → manifest-pruned incremental drain →
    // visual gate batch + append → IVF probe + append → every-8 pooled
    // compaction of both index stores. The committed evidence that the
    // drain's per-cycle fixed cost is history-independent END-TO-END
    // (discovery + persisted-manifest refresh + pruned copy + index
    // probes), not just per component: the per-cycle arrays must stay flat
    // while lake history grows ~×24 and the index stores absorb 24 waves.
    val steadyJson: String = if (!sections("steady_drain")) "" else {
      val dir = "/root/testdata/sf0.1"
      val tmp = java.nio.file.Files.createTempDirectory("graft-steady").toString
      // dev knob for smoke runs; the committed BENCH_MAINT uses the default
      val cyclesReq = sys.env.getOrElse("SPARK_GRAFT_SOAK_CYCLES", "48").toInt
      val orders = Tables.orders(spark, dir)
      val monthsDir = s"$tmp/months"
      orders
        .withColumn("m", graft.operators.ReferenceOps.monthSid(col("o_orderdate")))
        .repartition(2)
        .write.partitionBy("m").parquet(monthsDir)
      val monthsAll = orders
        .select(graft.operators.ReferenceOps.monthSid(col("o_orderdate")).as("m"))
        .distinct().orderBy("m").as[Long].collect()
      // clamp to the distinct months available (r8 ADVICE: an oversized
      // SPARK_GRAFT_SOAK_CYCLES crashed partway on months(k))
      val cycles = math.min(cyclesReq, monthsAll.length)
      if (cycles < cyclesReq)
        System.err.println(s"[scale] steady_drain clamped cycles $cyclesReq -> $cycles (distinct months available)")
      val months = monthsAll.take(cycles)
      val lake = s"$tmp/lake"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lake))
      def landMonth(m: Long, k: Int): Unit = {
        val landed = scala.collection.mutable.ArrayBuffer.empty[String]
        val st = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$monthsDir/m=$m"))
        try st.forEach { f =>
          if (f.getFileName.toString.endsWith(".parquet")) {
            val dst = java.nio.file.Paths.get(lake, s"c$k-${f.getFileName}")
            java.nio.file.Files.copy(f, dst)
            landed += dst.toString
          }
        } finally st.close()
        // journal the wave (r9): the production ingest shape — steady-state
        // drains consume the journal and never list the lake; the every-8th
        // drain reconciles against a real listing
        graft.sources.IngestLog.record(spark, lake, landed.toSeq)
        ()
      }
      val cfg = graft.etl.JobConfig(tableName = "orders", numMappers = 2,
        outputFileFormat = "parquet")
      val job = new graft.etl.IncrementalBackup(spark, cfg,
        new graft.etl.StatusStore(spark, s"$tmp/status"), s"$tmp/dest")
      val sigs = graft.multimodal.Multimodal.imageDhash(
        QueryCatalog.imagePayloadsFixture(spark, dir)).localCheckpoint()
      val visIdx = s"$tmp/vis"
      graft.multimodal.VisualIndex.build(sigs.filter(col("doc_id") < 250), visIdx)
      val emb = Tables.embeddings(spark, dir).localCheckpoint()
      val ivfBase = emb.filter(col("vec_id") < 1000)
      val ivfCents = graft.similarity.KMeansIvf.fit(ivfBase, k = 16, iters = 3)
      val ivfIdx = s"$tmp/ivf"
      graft.similarity.IvfStore.build(ivfBase, ivfIdx, ivfCents)
      val ivfQueries = emb.filter(col("vec_id") < 5).localCheckpoint()
      // postings store (r9: the soak's third append-mode index): base
      // index + one wave per cycle + phrase probe, compacted every 8
      val docs = Tables.documents(spark, dir).localCheckpoint()
      val pidxIdx = s"$tmp/pidx"
      graft.functions.Bm25.writeIndex(
        graft.functions.Bm25.buildPositionalIndex(
          docs.filter(col("doc_id") < 1000)), pidxIdx)
      val pidxTerms = Seq("join", "order")
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      // r9 verdict task 4: the soak also pins the BOUNDED-GROWTH invariant
      // of every drain-side log — live deltas <= checkpoint cadence, journal
      // waves <= cadence + 1 (the sequence anchor), cadence and watermark
      // entries <= 1 each — end-to-end across all cycles, not just per-call
      // in specs
      var copiedTotal = 0
      val per = (0 until cycles).map { k =>
        landMonth(months(k), k)
        var copied = Seq.empty[Long]
        val etlS = timed { copied = job.runPrunedIncremental(lake, maxParallel = 4) }
        copiedTotal += copied.size
        val mlog = new graft.sources.ManifestLog(spark, job.manifestPath)
        val deltasLive = mlog.deltasSinceCheckpoint
        val wavesLive = graft.sources.IngestLog.waves(spark, lake).size
        val cadence = mlog.entryCount(graft.sources.ManifestLog.Cadence)
        val watermarks = mlog.entryCount(graft.sources.ManifestLog.Watermark)
        assert(deltasLive <= cfg.manifestCheckpointEvery,
          s"cycle $k: $deltasLive live deltas > cadence ${cfg.manifestCheckpointEvery}")
        assert(wavesLive <= cfg.manifestCheckpointEvery + 1,
          s"cycle $k: $wavesLive journal waves > cadence + anchor")
        assert(cadence <= 1, s"cycle $k: $cadence cadence entries")
        assert(watermarks <= 1, s"cycle $k: $watermarks watermark entries")
        val batch = sigs.filter(col("doc_id") >= 250 &&
          pmod(col("doc_id"), lit(cycles.toLong)) === k)
        val visS = timed {
          graft.multimodal.VisualIndex
            .gateBatch(batch, spark, visIdx, maxHamming = 3).count(); ()
        }
        graft.multimodal.VisualIndex.append(batch, visIdx)
        val wave = emb.filter(col("vec_id") >= 1000 &&
          pmod(col("vec_id"), lit(cycles.toLong)) === k)
        val ivfS = timed {
          graft.similarity.IvfStore
            .probe(ivfQueries, ivfIdx, k = 10, nprobe = 4).count(); ()
        }
        graft.similarity.IvfStore.append(wave, ivfIdx)
        val pWave = docs.filter(col("doc_id") >= 1000 &&
          pmod(col("doc_id"), lit(cycles.toLong)) === k)
        val pidxS = timed {
          graft.functions.Bm25.phraseSearch(
            graft.functions.Bm25.probePositionalIndex(spark, pidxIdx, pidxTerms),
            pidxTerms).count(); ()
        }
        graft.functions.Bm25.appendIndex(
          graft.functions.Bm25.buildPositionalIndex(pWave), pidxIdx)
        val maintS =
          if ((k + 1) % 8 == 0) timed {
            graft.sources.Compaction.compactPartitions(spark, visIdx,
              targetBytes = 64L * 1024 * 1024, maxParallel = 8)
            graft.similarity.IvfStore.compact(spark, ivfIdx,
              targetBytes = 64L * 1024 * 1024, maxParallel = 8)
            graft.sources.Compaction.compactPartitions(spark, pidxIdx,
              targetBytes = 64L * 1024 * 1024, maxParallel = 8)
            ()
          } else 0.0
        System.err.println(f"[scale] steady_drain cycle $k%2d etl=${etlS}%.2fs vis=${visS}%.2fs ivf=${ivfS}%.2fs pidx=${pidxS}%.2fs maint=${maintS}%.2fs lake_files=${countParquetFiles(lake)} deltas=$deltasLive waves=$wavesLive cadence=$cadence watermarks=$watermarks")
        (etlS, visS, ivfS, pidxS, maintS, countParquetFiles(lake),
          deltasLive, wavesLive, cadence)
      }
      val (etl, vis, ivf, pidx, maint, lakeF) =
        (per.map(_._1), per.map(_._2), per.map(_._3), per.map(_._4),
          per.map(_._5), per.map(_._6))
      val (dLive, wLive, mLive) = (per.map(_._7), per.map(_._8), per.map(_._9))
      System.err.println(f"[scale] steady_drain etl ${avgD(etl.take(5))}%.2f->${avgD(etl.takeRight(5))}%.2fs vis ${avgD(vis.take(5))}%.2f->${avgD(vis.takeRight(5))}%.2fs ivf ${avgD(ivf.take(5))}%.2f->${avgD(ivf.takeRight(5))}%.2fs pidx ${avgD(pidx.take(5))}%.2f->${avgD(pidx.takeRight(5))}%.2fs months=$copiedTotal deltas_max=${dLive.max} waves_max=${wLive.max}")
      s""","steady_drain":{"cycles":$cycles,"months_copied":$copiedTotal,"etl_s":${s3arr(etl)},"vis_probe_s":${s3arr(vis)},"ivf_probe_s":${s3arr(ivf)},"pidx_probe_s":${s3arr(pidx)},"maintenance_s":${s3arr(maint)},"lake_files":${iarr(lakeF)},"live_deltas":${iarr(dLive)},"journal_waves":${iarr(wLive)},"cadence_entries":${iarr(mLive)},"log_growth_bounded":true,"etl_first5_avg_s":${s3(avgD(etl.take(5)))},"etl_last5_avg_s":${s3(avgD(etl.takeRight(5)))},"vis_first5_avg_s":${s3(avgD(vis.take(5)))},"vis_last5_avg_s":${s3(avgD(vis.takeRight(5)))},"ivf_first5_avg_s":${s3(avgD(ivf.take(5)))},"ivf_last5_avg_s":${s3(avgD(ivf.takeRight(5)))},"pidx_first5_avg_s":${s3(avgD(pidx.take(5)))},"pidx_last5_avg_s":${s3(avgD(pidx.takeRight(5)))}}"""
    }
    tailParts :+= steadyJson; flush()

    // ---- cross-table × within-table concurrency (r7 verdict task 3's
    // bench row): two lake tables drained via the manifest-pruned path
    // with a 4-wide copy pool each — sequentially vs 2 tables in flight
    // (runAllFrom with maxParallel = 2). The claim: concurrent wall clock
    // tracks the WIDEST table, sequential pays the sum.
    val concJson: String = if (!sections("etl_conc")) "" else {
      val dir = "/root/testdata/sf0.1"
      val tmp = java.nio.file.Files.createTempDirectory("graft-etlconc").toString
      Tables.orders(spark, dir)
        .withColumn("month_sid",
          graft.operators.ReferenceOps.monthSid(col("o_orderdate")))
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$tmp/lake/orders")
      Tables.lineitem(spark, dir)
        .withColumn("month_sid",
          graft.operators.ReferenceOps.monthSid(col("l_shipdate")))
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.parquet(s"$tmp/lake/lineitem")
      def jobs = Seq("orders", "lineitem").map { t =>
        graft.etl.JobConfig(tableName = t, numMappers = 4, pruned = true,
          maxParallel = 4, outputFileFormat = "parquet",
          lakePath = s"$tmp/lake/$t") ->
          (graft.etl.EtlRunner.LakeSource(s"$tmp/lake/$t")
            : graft.etl.EtlRunner.EtlSource)
      }
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val tOrders = timed {
        graft.etl.EtlRunner.runAllFrom(spark, s"$tmp/ra", jobs.take(1)); ()
      }
      val tLine = timed {
        graft.etl.EtlRunner.runAllFrom(spark, s"$tmp/rb", jobs.drop(1)); ()
      }
      val tSeq = timed {
        graft.etl.EtlRunner.runAllFrom(spark, s"$tmp/rc", jobs); ()
      }
      val tConc = timed {
        graft.etl.EtlRunner
          .runAllFrom(spark, s"$tmp/rd", jobs, maxParallel = 2); ()
      }
      System.err.println(f"[scale] etl_conc orders=${tOrders}%.1fs lineitem=${tLine}%.1fs seq=${tSeq}%.1fs conc=${tConc}%.1fs (widest=${math.max(tOrders, tLine)}%.1fs)")
      s""","etl_conc":{"orders_alone_s":${s3(tOrders)},"lineitem_alone_s":${s3(tLine)},"sequential_both_s":${s3(tSeq)},"concurrent_both_s":${s3(tConc)},"widest_table_s":${s3(math.max(tOrders, tLine))}}"""
    }
    tailParts :+= concJson; flush()

    println(java.nio.file.Files.readString(
      java.nio.file.Paths.get(outJson)))
    spark.stop()
  }
}
