package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.etl.{BackupStatus, StatusStore}
import graft.etl.EtlRunner.{LakeSource, RelationSource}
import graft.sources.Compaction

/** Failure injection at the swap boundaries of the atomic-swap stores
  * (r5 verdict task 6): every store that commits via temp-write-then-rename
  * must satisfy (a) a reader at ANY crash state sees the old complete set
  * or the new complete set — never a mix, and (b) re-running the operation
  * (or its recovery preamble) from any crash state converges to a correct
  * store. Crashes are injected by performing the protocol's steps manually
  * and stopping at each boundary.
  */
class CrashConsistencySpec extends SparkSpec {

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def statusRows(n: Int): Seq[BackupStatus] = {
    val t = new java.sql.Timestamp(0L)
    (1 to n).map(i =>
      BackupStatus("t1", "db", t, None, "m", i.toLong, isComplete = false, 4))
  }

  private def snapshots(dir: String): Set[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName)
      .filterNot(_.endsWith(".crc")).toSet

  test("StatusStore: a kill after a snapshot's publish but before its GC leaves the newest snapshot winning") {
    val dir = Files.createTempDirectory("graft-crash-st").toString
    val store = new StatusStore(spark, dir)
    store.append(statusRows(3))                 // snapshot-0
    store.markComplete("t1", 1L, new java.sql.Timestamp(1L)) // snapshot-1
    // a writer killed right after publishing snapshot-2, before deleting
    // snapshot-0 (snapshot-2 written by Spark, INT96 timestamps)
    import spark.implicits._
    val newSet = statusRows(3).map(_.copy(isComplete = true))
    spark.createDataset(newSet).coalesce(1).write.parquet(s"$dir/snapshot-2")
    assert(snapshots(dir) == Set("snapshot-0", "snapshot-1", "snapshot-2"))
    // a reader in the crash state sees the newest snapshot, whole
    val fresh = new StatusStore(spark, dir)
    assert(fresh.read().collect().toSet == newSet.toSet)
    // and the store keeps working: the next write keeps the newest two
    fresh.delete("t1", 3L)
    assert(fresh.read().count() == 2)
    assert(snapshots(dir) == Set("snapshot-2", "snapshot-3"))
  }

  test("StatusStore: a staged, unpublished snapshot is never read, and the next write clears it") {
    val dir = Files.createTempDirectory("graft-crash-st2").toString
    val store = new StatusStore(spark, dir)
    store.append(statusRows(2))
    // a write killed before its rename, complete under the staged name
    // of the next seq, and one killed mid-write
    import spark.implicits._
    spark.createDataset(statusRows(5)).coalesce(1).write.parquet(s"$dir/.snapshot-1.tmp")
    val orphan = new Path(dir, ".snapshot-2.tmp")
    fs.mkdirs(orphan)
    val junk = fs.create(new Path(orphan, "part-00000.parquet"), true)
    try junk.write(Array[Byte](1, 2, 3)) finally junk.close()
    assert(new StatusStore(spark, dir).read().count() == 2)
    store.markComplete("t1", 1L, new java.sql.Timestamp(1L))
    assert(snapshots(dir) == Set("snapshot-0", "snapshot-1"))
    val rows = new StatusStore(spark, dir).rows()
    assert(rows.size == 2 && rows.count(_.isComplete) == 1)
  }

  test("Compaction: reader sees old or new at every crash state; recovery converges from each") {
    val dir = Files.createTempDirectory("graft-crash-cp").toString
    val t = s"$dir/t"
    Tables.nation(spark, sf).repartition(4).write.parquet(t)
    val expect = spark.read.parquet(t).collect().map(_.toString).sorted.toSeq
    def rows() = spark.read.parquet(t).collect().map(_.toString).sorted.toSeq

    val p = new Path(t)
    val tmp = new Path(p.getParent, s".${p.getName}.compact.tmp")
    val old = new Path(p.getParent, s".${p.getName}.compact.old")

    // state A: rewrite complete in tmp, live dir untouched → reader: old set
    spark.read.parquet(t).repartition(1).write.parquet(tmp.toString)
    assert(rows() == expect)
    // state B: live dir renamed away (the kill window between the two
    // renames) → live name missing; recovery rolls FORWARD (tmp complete)
    fs.rename(p, old)
    assert(!fs.exists(p))
    Compaction.recover(spark, t)
    assert(rows() == expect, "roll-forward must expose the complete rewrite")
    assert(!fs.exists(old) && !fs.exists(tmp), "markers cleaned after recovery")

    // crash with an INCOMPLETE rewrite (no _SUCCESS in tmp) → roll BACK
    fs.mkdirs(tmp)
    val junk = fs.create(new Path(tmp, "part-junk.parquet"), true)
    try junk.write(Array[Byte](9)) finally junk.close()
    fs.rename(p, old)
    Compaction.recover(spark, t)
    assert(rows() == expect, "roll-back must restore the displaced original")

    // and a plain re-run from the healthy state still compacts
    val st = Compaction.compact(spark, t, targetBytes = 1L << 30)
    assert(st.filesAfter == 1 && rows() == expect)
  }

  test("compactPartitions: a crashed child swap is recovered, hidden markers are not mistaken for partitions") {
    val dir = Files.createTempDirectory("graft-crash-cpp").toString
    val root = s"$dir/store"
    Tables.nation(spark, sf)
      .withColumn("band", pmod(col("n_nationkey"), lit(3)))
      .repartition(4)
      .write.partitionBy("band").parquet(root)
    val expect = spark.read.parquet(root).count()
    // crash band=1 inside the swap window: rewrite complete, live dir gone
    val child = new Path(s"$root/band=1")
    val ctmp = new Path(child.getParent, ".band=1.compact.tmp")
    spark.read.parquet(child.toString).repartition(1).write.parquet(ctmp.toString)
    fs.rename(child, new Path(child.getParent, ".band=1.compact.old"))
    // the maintenance pass must first finish that swap, then compact all
    val st = Compaction.compactPartitions(spark, root, targetBytes = 1L << 30)
    assert(st.filesAfter == 3, s"expected one file per partition, got $st")
    assert(spark.read.parquet(root).count() == expect)
    assert(!fs.listStatus(new Path(root)).exists(_.getPath.getName.startsWith(".")),
      "no hidden marker dirs may survive the maintenance pass")
  }

  test("IvfStore: a died append (uncommitted temp files) is invisible; the retry lands exactly once") {
    val dir = Files.createTempDirectory("graft-crash-ivf").toString
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 200)
    val wave = emb.filter(col("vec_id") >= 200 && col("vec_id") < 240)
    val cents = graft.similarity.KMeansIvf.fit(base, k = 4, iters = 2)
    graft.similarity.IvfStore.build(base, s"$dir/ivf", cents)
    val before = spark.read.parquet(s"$dir/ivf/vectors").count()
    // a killed append job leaves committer staging behind: an uncommitted
    // attempt AND a committed-task dir (the dangerous one — a later job's
    // commit would MERGE it into the store as duplicate rows if append
    // didn't clean staging first). Neither may surface to readers.
    val attempt = new Path(
      s"$dir/ivf/vectors/_temporary/0/_temporary/attempt_0/cluster=0")
    fs.mkdirs(attempt)
    val j0 = fs.create(new Path(attempt, "part-00000.parquet"), true)
    try j0.write(Array[Byte](1)) finally j0.close()
    val tdir = new Path(s"$dir/ivf/vectors/_temporary/0/task_dead_0/cluster=0")
    fs.mkdirs(tdir)
    val j1 = fs.create(new Path(tdir, "part-00000.parquet"), true)
    try j1.write(Array[Byte](1)) finally j1.close()
    val j2 = fs.create(new Path(s"$dir/ivf/vectors/cluster=0/.part-dead.parquet.tmp"), true)
    try j2.write(Array[Byte](2)) finally j2.close()
    assert(spark.read.parquet(s"$dir/ivf/vectors").count() == before,
      "uncommitted append debris must be invisible")
    // the retry (the job's unit of replay) appends the wave exactly once
    graft.similarity.IvfStore.append(wave, s"$dir/ivf")
    assert(spark.read.parquet(s"$dir/ivf/vectors").count() ==
      before + wave.count())
  }

  test("swapIn (manifest commit path): first write, kill window, incomplete rewrite, and a crashed refresh all converge") {
    import graft.sources.Compaction
    val dir = Files.createTempDirectory("graft-crash-swap").toString
    val m = s"$dir/manifest"
    import spark.implicits._
    def write(n: Int): Unit = Compaction.swapIn(spark, m) { tmp =>
      spark.range(n).coalesce(1).write.parquet(tmp)
    }
    // first write: no live dir to displace
    write(3)
    assert(spark.read.parquet(m).count() == 3)
    // normal replace
    write(5)
    assert(spark.read.parquet(m).count() == 5)
    val p = new Path(m)
    val tmp = new Path(p.getParent, s".${p.getName}.compact.tmp")
    val old = new Path(p.getParent, s".${p.getName}.compact.old")
    // kill window between the two renames: complete rewrite staged, live
    // dir renamed away → recover() must roll FORWARD to the new set
    spark.range(7).coalesce(1).write.parquet(tmp.toString)
    fs.rename(p, old)
    Compaction.recover(spark, m)
    assert(spark.read.parquet(m).count() == 7, "roll-forward to the staged set")
    // incomplete rewrite (no _SUCCESS) + displaced live → roll BACK
    fs.mkdirs(tmp)
    val junk = fs.create(new Path(tmp, "part-junk.parquet"), true)
    try junk.write(Array[Byte](1)) finally junk.close()
    fs.rename(p, old)
    Compaction.recover(spark, m)
    assert(spark.read.parquet(m).count() == 7, "roll-back to the displaced set")
    // a refresh that died MID-CHECKPOINT-WRITE (a staged, unpublished
    // checkpoint inside the manifest log, no live checkpoint yet) must not
    // be mistaken for a checkpoint: refreshManifest clears the debris and
    // commits a fresh, correct build.
    val lakeDf = Tables.orders(spark, sf).limit(500)
    lakeDf.repartition(2).write.parquet(s"$dir/lake")
    val cfg = graft.etl.JobConfig(tableName = "orders", numMappers = 2)
    val job = new graft.etl.IncrementalBackup(spark, cfg,
      new graft.etl.StatusStore(spark, s"$dir/status"), dir)
    val mroot = new Path(job.manifestPath)
    val mtmp = new Path(mroot, ".checkpoint-0.tmp")
    fs.mkdirs(mtmp)
    val mj = fs.create(new Path(mtmp, "part-dead.parquet"), true)
    try mj.write(Array[Byte](2)) finally mj.close()
    val stats = job.refreshManifest(s"$dir/lake")
    assert(stats.count() == spark.read.parquet(s"$dir/lake").inputFiles.length)
    assert(!fs.exists(mtmp))
  }

  test("ManifestLog: delta-commit kill windows — staged-but-unpublished is invisible and re-derived; published twice folds to an empty diff; stale folded deltas are ignored") {
    val dir = Files.createTempDirectory("graft-crash-mlog").toString
    val orders = Tables.orders(spark, sf)
    val lake = s"$dir/lake"
    Files.createDirectories(java.nio.file.Paths.get(lake))
    def land(df: org.apache.spark.sql.DataFrame, prefix: String): Unit = {
      val stage = s"$dir/stage-$prefix"
      df.repartitionByRange(2, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate").write.parquet(stage)
      val st = Files.list(java.nio.file.Paths.get(stage))
      try st.forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.copy(p, java.nio.file.Paths.get(lake, prefix + p.getFileName))
      } finally st.close()
    }
    land(orders.filter(col("o_orderdate") < lit("1996-01-01")), "w1-")
    val cfg = graft.etl.JobConfig(tableName = "orders", numMappers = 2)
    val job = new graft.etl.IncrementalBackup(spark, cfg,
      new graft.etl.StatusStore(spark, s"$dir/status"), dir)
    val m1 = job.refreshManifest(lake)
    val w1Count = m1.count()
    assert(w1Count == spark.read.parquet(lake).inputFiles.length)

    // wave 2 lands; CRASH (a): the delta is staged but never published —
    // readers in the window still see the OLD complete manifest
    land(orders.filter(col("o_orderdate") >= lit("1996-01-01")), "w2-")
    val log = new graft.sources.ManifestLog(spark, job.manifestPath)
    val prior = log.current().get
    val pid = Seq("pid" -> job.pidCol(spark.read.parquet(lake)))
    val diff = graft.sources.StatsStore
      .collectExprDiff(spark, lake, pid, prior, None)
    diff.adds.withColumn("tombstone", lit(false)).coalesce(1)
      .write.parquet(s"${job.manifestPath}/.delta-1.tmp")
    assert(new graft.sources.ManifestLog(spark, job.manifestPath).current().get.count() == w1Count,
      "a staged, unpublished delta must be invisible")
    // retry converges: debris cleared, delta re-derived and committed
    val m2 = job.refreshManifest(lake)
    assert(m2.count() == spark.read.parquet(lake).inputFiles.length)
    assert(!fs.listStatus(new Path(job.manifestPath))
      .exists(_.getPath.getName.endsWith(".tmp")), "staging debris left")

    // CRASH (b): the delta published but the drain died right after —
    // a re-run derives an EMPTY diff and appends NOTHING (idempotent)
    def deltaDirs() = fs.listStatus(new Path(job.manifestPath))
      .count(_.getPath.getName.startsWith("delta-"))
    val before = deltaDirs()
    val m3 = job.refreshManifest(lake)
    assert(m3.count() == m2.count())
    assert(deltaDirs() == before, "an idle refresh must append no delta")

    // CRASH (c): checkpoint swapped but folded-delta GC died — a stale
    // delta with seq <= upto must be IGNORED by readers, then GC'd
    val cfg2 = cfg.copy(manifestCheckpointEvery = 1) // fold every drain
    val job2 = new graft.etl.IncrementalBackup(spark, cfg2,
      new graft.etl.StatusStore(spark, s"$dir/status"), dir)
    job2.refreshManifest(lake) // folds everything into the checkpoint
    val expect = job2.readManifest().collect().map(_.toString).sorted.toSeq
    // fabricate a stale folded delta: garbage rows at a low seq
    val staleTmp = s"${job.manifestPath}/.delta-0.tmp"
    diff.adds.withColumn("tombstone", lit(true)).coalesce(1)
      .write.parquet(staleTmp)
    fs.rename(new Path(staleTmp), new Path(s"${job.manifestPath}/delta-0"))
    assert(job2.readManifest().collect().map(_.toString).sorted.toSeq == expect,
      "a delta below the checkpoint's upto must be ignored")
    job2.refreshManifest(lake) // gc() clears it
    assert(!fs.exists(new Path(s"${job.manifestPath}/delta-0")))
  }

  test("a due drain killed between its fold and its reconcile (manifest.checkpoint.swapped) reconciles on re-run: a file lost outside the journal is tombstoned and the run converges to the never-crashed twin") {
    import graft.sources.{FaultPoints, IngestLog, ManifestLog}
    val root = Files.createTempDirectory("graft-crash-due").toString
    val cfg = graft.etl.JobConfig(tableName = "t", numMappers = 1,
      outputFileFormat = "parquet", pruned = true, manifestCheckpointEvery = 2)
    def land(lake: String, m: Long): java.nio.file.Path = {
      val stage = s"$lake-stage-$m"
      spark.range(40).select(lit(m).as("month_sid"), col("id").as("payload"))
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(lake, s"m-$m.parquet")
      Files.createDirectories(dst.getParent)
      Files.copy(part.toPath, dst)
      IngestLog.record(spark, lake, Seq(dst.toString))
      dst
    }
    // two drains (the first build, then one month through the journal, a
    // live delta for the fold), then a file vanishes outside the journal;
    // the next drain is due
    def setup(tag: String): (graft.etl.IncrementalBackup, String) = {
      val lake = s"$root/$tag/lake"
      val job = new graft.etl.IncrementalBackup(spark, cfg,
        new graft.etl.StatusStore(spark, s"$root/$tag/status"), s"$root/$tag/dest")
      val lost = land(lake, 199501L)
      land(lake, 199502L)
      job.drain(LakeSource(lake))
      land(lake, 199503L)
      job.drain(LakeSource(lake))
      Files.delete(lost)
      (job, lake)
    }
    import spark.implicits._
    def names(j: graft.etl.IncrementalBackup) =
      j.readManifest().select("file").as[String].collect().map(f => new Path(f).getName).toSet
    def backMap(j: graft.etl.IncrementalBackup) = j.readBack()
      .groupBy(col("pid").cast("long").as("m")).count()
      .as[(Long, Long)].collect().toMap

    val (twin, twinLake) = setup("twin")
    assert(twin.drain(LakeSource(twinLake)).isEmpty)
    assert(names(twin) == Set("m-199502.parquet", "m-199503.parquet"))

    val (job, lake) = setup("crash")
    FaultPoints.install { n =>
      if (n == "manifest.checkpoint.swapped") throw new RuntimeException(s"injected@$n")
    }
    val crashed =
      try { job.drain(LakeSource(lake)); false }
      catch { case e: RuntimeException if e.getMessage.startsWith("injected@") => true }
      finally FaultPoints.clear()
    assert(crashed, "the due drain did not reach its fold")
    val log = new ManifestLog(spark, job.manifestPath)
    assert(log.deltasSinceCheckpoint == 0, "the fold was swapped in before the kill")
    assert(names(job).contains("m-199501.parquet"), "the kill came before the reconcile")
    assert(log.refreshCount >= cfg.manifestCheckpointEvery, "the cadence counter was reset")

    assert(job.drain(LakeSource(lake)).isEmpty)
    assert(!names(job).contains("m-199501.parquet"), "the re-run must reconcile the lost file")
    assert(names(job) == names(twin))
    assert(backMap(job) == backMap(twin))
    assert(job.drain(LakeSource(lake)).isEmpty)
    assert(names(job) == names(twin))
  }

  test("a crashed IngestLog.record converges on the ingest's retry at every protocol point: staged, claim-created, published (r11: exclusive-claim protocol)") {
    import graft.sources.{FaultPoints, IngestLog}
    val root = Files.createTempDirectory("graft-crash-ing").toString
    val files = Seq("/w/a.parquet", "/w/b.parquet")
    for (point <- Seq("ingest.wave.staged", "ingest.claim.created",
        "ingest.wave.published")) {
      val lake = s"$root/lake-${point.replace('.', '-')}"
      Files.createDirectories(java.nio.file.Paths.get(lake))
      FaultPoints.install { n =>
        if (n == point) throw new RuntimeException(s"injected@$n")
      }
      val crashed =
        try { IngestLog.record(spark, lake, files); false }
        catch { case e: RuntimeException
          if e.getMessage.startsWith("injected@") => true }
        finally FaultPoints.clear()
      assert(crashed, s"$point: fault did not fire")
      // the ingest's retry: the files are fully landed, so the recorder
      // simply records again (the r9 contract — a loser/crasher never
      // aborts a landed ingest)
      val seq = IngestLog.record(spark, lake, files)
      val (got, head) = IngestLog.filesSince(spark, lake, IngestLog.waves(spark, lake), -1L)
      assert(head == seq, s"$point: head $head != $seq")
      if (point == "ingest.wave.published") {
        // crash AFTER publish: wave 1 landed, the retry re-records the
        // same files as wave 2 — a duplicate the manifest diff folds to
        // an empty delta (idempotent by design)
        assert(IngestLog.waves(spark, lake) == Seq(seq - 1, seq))
        assert(got == files ++ files, s"$point: $got")
      } else {
        // crash BEFORE publish: nothing visible landed; the retry's wave
        // is the only one (an aborted claim leaves a harmless seq gap —
        // claim-created shows seq 2 with no wave-1)
        assert(IngestLog.waves(spark, lake) == Seq(seq))
        assert(got == files, s"$point: $got")
      }
    }
  }

  test("crash-fuzz: a journaled drain aborted at 20+ seeded random fault points converges on re-run to the never-crashed twin (r9 verdict task 6)") {
    import graft.sources.{FaultPoints, IngestLog}
    val root = Files.createTempDirectory("graft-fuzz").toString
    // small synthetic month-keyed waves (month_sid carried as a column →
    // cheap copies; ~8 copy jobs per drain keeps 20+ trials tractable)
    def waveDf(months: Seq[Long]) = months.map(m =>
        spark.range(40).select(lit(m).as("month_sid"), col("id").as("payload")))
      .reduce(_ unionByName _)
    def stage(name: String, months: Seq[Long]): String = {
      val d = s"$root/stage-$name"
      waveDf(months).repartitionByRange(2, col("month_sid"))
        .sortWithinPartitions("month_sid").write.parquet(d)
      d
    }
    val w1 = stage("w1", Seq(199501L, 199502L, 199503L))
    val w2 = stage("w2", Seq(199504L, 199505L, 199506L, 199507L, 199508L))
    def land(stageDir: String, lake: String, prefix: String): Seq[String] = {
      Files.createDirectories(java.nio.file.Paths.get(lake))
      val landed = scala.collection.mutable.ArrayBuffer.empty[String]
      val st = Files.list(java.nio.file.Paths.get(stageDir))
      try st.forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet")) {
          val dst = java.nio.file.Paths.get(lake, prefix + p.getFileName)
          Files.copy(p, dst); landed += dst.toString
        }
      } finally st.close()
      landed.toSeq
    }
    val cfg = graft.etl.JobConfig(tableName = "t", numMappers = 1,
      outputFileFormat = "parquet", pruned = true, manifestCheckpointEvery = 2)
    def mkJob(tag: String) = new graft.etl.IncrementalBackup(spark, cfg,
      new graft.etl.StatusStore(spark, s"$root/$tag/status"), s"$root/$tag/dest")
    def runSetup(tag: String): graft.etl.IncrementalBackup = {
      val lake = s"$root/$tag/lake"
      val job = mkJob(tag)
      IngestLog.record(spark, lake, land(w1, lake, "w1-"))
      job.drain(LakeSource(lake))
      IngestLog.record(spark, lake, land(w2, lake, "w2-"))
      job
    }
    // the never-crashed TWIN: the convergence target
    val twin = runSetup("twin")
    twin.drain(LakeSource(s"$root/twin/lake"))
    import spark.implicits._
    def backMap(j: graft.etl.IncrementalBackup) = j.readBack()
      .groupBy(col("pid").cast("long").as("m")).count()
      .as[(Long, Long)].collect().toMap
    def manifestNames(j: graft.etl.IncrementalBackup) =
      j.readManifest().select("file").as[String].collect()
        .map(f => new Path(f).getName).toSet
    val wantBack = backMap(twin)
    val wantManifest = manifestNames(twin)
    assert(wantBack.keySet == Set(199501L, 199502L, 199503L, 199504L,
      199505L, 199506L, 199507L, 199508L))

    // dry run to ENUMERATE the drain's fault-point occurrences — the fuzz
    // domain is discovered, not hand-listed, so a newly added hit point
    // automatically joins the domain
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val dry = runSetup("dry") // setup OUTSIDE the count: trials fuzz drain 2 only
    FaultPoints.install(name => { seen += name; () })
    try dry.drain(LakeSource(s"$root/dry/lake"))
    finally FaultPoints.clear()
    val domain = seen.toIndexedSeq
    assert(domain.size >= 10, s"too few fault occurrences to fuzz: $domain")
    assert(backMap(mkJob("dry")) == wantBack) // counting handler is inert

    // seeded, reproducible trials: >= 20 distinct occurrences (all of them
    // when the domain is small), each aborting drain 2 mid-protocol
    val rng = new scala.util.Random(42)
    val picks =
      if (domain.size <= 24) domain.indices.toIndexedSeq
      else rng.shuffle(domain.indices.toIndexedSeq).take(24).sorted
    assert(picks.size >= 10)
    var aborted = 0
    picks.foreach { target =>
      val tag = s"trial-$target"
      val job = runSetup(tag)
      val lake = s"$root/$tag/lake"
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      FaultPoints.install { name =>
        if (n.getAndIncrement() == target)
          throw new RuntimeException(s"injected@$name#$target")
      }
      val crashed =
        try { job.drain(LakeSource(lake)); false }
        catch { case e: RuntimeException if e.getMessage.startsWith("injected@") => true }
        finally FaultPoints.clear()
      if (crashed) aborted += 1
      // convergence: the plain re-run completes whatever the abort left
      val again = job.drain(LakeSource(lake))
      assert(job.drain(LakeSource(lake)).isEmpty,
        s"$tag: drain not quiescent after recovery (copied $again then more)")
      assert(backMap(job) == wantBack, s"$tag: read-back diverged")
      assert(manifestNames(job) == wantManifest, s"$tag: manifest diverged")
      assert(new graft.etl.StatusStore(spark, s"$root/$tag/status")
        .pending("t").isEmpty, s"$tag: pending units left")
    }
    // the fuzz must have actually aborted drains (occurrences within the
    // drain being fuzzed), not just picked indices past the hit count
    assert(aborted >= 10, s"only $aborted/${picks.size} trials aborted")
  }

  test("crash-fuzz through the pooled executor: a journaled drain at maxParallel = 2 aborted at every copy-phase fault point converges on re-run to the never-crashed twin") {
    // a 1 KB split caps a wave below one lake file's estimated bytes, so
    // each of wave 2's files starts a wave of its own and the waves run on
    // the pool
    withConf("spark.sql.files.maxPartitionBytes", "1k")(pooledFuzz())
  }

  private def pooledFuzz(): Unit = {
    import graft.sources.{FaultPoints, IngestLog}
    val root = Files.createTempDirectory("graft-fuzz-pool").toString
    def stage(name: String, months: Seq[Long]): String = {
      val d = s"$root/stage-$name"
      months.map(m =>
          spark.range(40).select(lit(m).as("month_sid"), col("id").as("payload")))
        .reduce(_ unionByName _)
        .repartitionByRange(2, col("month_sid"))
        .sortWithinPartitions("month_sid").write.parquet(d)
      d
    }
    val w1 = stage("w1", Seq(199501L, 199502L))
    val w2 = stage("w2", Seq(199503L, 199504L, 199505L, 199506L, 199507L))
    def land(stageDir: String, lake: String, prefix: String): Seq[String] = {
      Files.createDirectories(java.nio.file.Paths.get(lake))
      new java.io.File(stageDir).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val dst = java.nio.file.Paths.get(lake, prefix + f.getName)
          Files.copy(f.toPath, dst); dst.toString
        }
    }
    val cfg = graft.etl.JobConfig(tableName = "t", numMappers = 1,
      outputFileFormat = "parquet", pruned = true, maxParallel = 2,
      manifestCheckpointEvery = 2)
    def drain(tag: String, job: graft.etl.IncrementalBackup): Seq[Long] =
      job.drain(LakeSource(s"$root/$tag/lake"))
    // drain 1 copies wave 1; wave 2 (five months) waits for the fuzzed drain
    def runSetup(tag: String): graft.etl.IncrementalBackup = {
      val lake = s"$root/$tag/lake"
      val job = new graft.etl.IncrementalBackup(spark, cfg,
        new graft.etl.StatusStore(spark, s"$root/$tag/status"), s"$root/$tag/dest")
      IngestLog.record(spark, lake, land(w1, lake, "w1-"))
      drain(tag, job)
      IngestLog.record(spark, lake, land(w2, lake, "w2-"))
      job
    }
    import spark.implicits._
    def backMap(j: graft.etl.IncrementalBackup) = j.readBack()
      .groupBy(col("pid").cast("long").as("m")).count()
      .as[(Long, Long)].collect().toMap
    def manifestNames(j: graft.etl.IncrementalBackup) =
      j.readManifest().select("file").as[String].collect()
        .map(f => new Path(f).getName).toSet
    val twin = runSetup("twin")
    assert(drain("twin", twin).size == 5)
    val wantBack = backMap(twin)
    val wantManifest = manifestNames(twin)

    // the fault domain, discovered by a counting dry run; the handler runs
    // on pool threads, so the record is thread-safe
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val dry = runSetup("dry")
    FaultPoints.install(name => { seen.add(name); () })
    try drain("dry", dry) finally FaultPoints.clear()
    import scala.jdk.CollectionConverters._
    val domain = seen.asScala.toIndexedSeq
    // everything before the first copy runs on the caller's thread in a
    // fixed order; from there on every occurrence is a pooled copy's
    val firstCopy = domain.indexWhere(_.startsWith("drain.copy."))
    assert(firstCopy > 0 && domain.drop(firstCopy).forall(_.startsWith("drain.copy.")),
      s"unexpected fault domain: $domain")
    val picks = firstCopy until domain.size
    assert(picks.size >= 8, s"too few pooled fault occurrences: $domain")
    assert(domain.count(_ == "drain.copy.staged") >= 2, s"one wave, no pool: $domain")
    picks.foreach { target =>
      val tag = s"trial-$target"
      val job = runSetup(tag)
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      FaultPoints.install { name =>
        if (n.getAndIncrement() == target)
          throw new RuntimeException(s"injected@$name#$target")
      }
      val crashed =
        try { drain(tag, job); false }
        catch { case e: RuntimeException if e.getMessage.startsWith("injected@") => true }
        finally FaultPoints.clear()
      assert(crashed, s"$tag: the pooled drain did not surface the injected fault")
      drain(tag, job)
      assert(drain(tag, job).isEmpty, s"$tag: drain not quiescent after recovery")
      assert(backMap(job) == wantBack, s"$tag: read-back diverged")
      assert(manifestNames(job) == wantManifest, s"$tag: manifest diverged")
      assert(new graft.etl.StatusStore(spark, s"$root/$tag/status")
        .pending("t").isEmpty, s"$tag: pending units left")
    }
  }

  test("a relation drain crashed with its wave staged but unpublished, or with a month published but unmarked, shows only whole months; the next drain removes the staged dir and converges to the never-crashed twin, marking every month once") {
    val root = Files.createTempDirectory("graft-crash-wave").toString
    val cfg = graft.etl.JobConfig(tableName = "t", numMappers = 1)
    def land(lake: String, months: Seq[Long]): Unit =
      months.map(m => spark.range(40).select(lit(m).as("month_sid"), col("id").as("payload")))
        .reduce(_ unionByName _).write.mode("append").parquet(lake)
    // months 1-2 are copied, then months 3-4 land for the drain under test
    def setup(tag: String): (graft.etl.IncrementalBackup, StatusStore, String) = {
      val lake = s"$root/$tag/lake"
      land(lake, Seq(199501L, 199502L))
      val store = new StatusStore(spark, s"$root/$tag/status")
      val job = new graft.etl.IncrementalBackup(spark, cfg, store, s"$root/$tag/dest")
      assert(job.drain(RelationSource(spark.read.parquet(lake))) == Seq(199501L, 199502L))
      land(lake, Seq(199503L, 199504L))
      (job, store, lake)
    }
    import spark.implicits._
    def backMap(j: graft.etl.IncrementalBackup) = j.readBack()
      .groupBy(col("pid").cast("long").as("m")).count()
      .as[(Long, Long)].collect().toMap
    def staged(tag: String) = fs.listStatus(new Path(s"$root/$tag/dest/t"))
      .map(_.getPath.getName).filter(_.startsWith("_wave-")).toSeq

    val (twin, _, twinLake) = setup("twin")
    assert(twin.drain(RelationSource(spark.read.parquet(twinLake))) == Seq(199503L, 199504L))
    val want = backMap(twin)
    // a month is visible once marked: published but unmarked, it stays hidden
    for ((point, visible) <- Seq(
        "drain.copy.staged" -> Set(199501L, 199502L),
        "drain.copy.written" -> Set(199501L, 199502L))) {
      val tag = point.replace('.', '-')
      val (job, store, lake) = setup(tag)
      val (out, marks) = DrainMarks.record(store, "t", Some(point)) {
        job.drain(RelationSource(spark.read.parquet(lake)))
      }
      assert(out.isEmpty && marks.isEmpty, s"$point: the fault did not fire before a mark")
      // the crash state: the earlier months, whole
      val seen = backMap(job)
      assert(seen.keySet == visible && seen.forall { case (m, n) => want(m) == n },
        s"$point: read-back shows $seen")
      assert(fs.exists(new Path(s"$root/$tag/dest/t/pid=199503")) ==
        (point == "drain.copy.written"), s"$point: publish state of 199503")
      assert(staged(tag).size == 1, s"$point: staged dirs ${staged(tag)}")
      assert(store.pending("t").count() == 2)

      val (again, remarks) = DrainMarks.record(store, "t")(job.drain(RelationSource(spark.read.parquet(lake))))
      assert(again.contains(Seq(199503L, 199504L)), s"$point: re-run copied $again")
      assert(remarks == Seq(199503L, 199504L), s"$point: re-run marks $remarks")
      assert(staged(tag).isEmpty, s"$point: staged dirs left ${staged(tag)}")
      assert(backMap(job) == want, s"$point: read-back diverged")
      assert(store.pending("t").isEmpty)
    }
  }

  test("IvfStore: a crashed cluster-leaf swap is recovered by compact; rows and probe results preserved") {
    val dir = Files.createTempDirectory("graft-crash-ivfc").toString
    val emb = Tables.embeddings(spark, sf)
    val cents = graft.similarity.KMeansIvf.fit(
      emb.filter(col("vec_id") < 200), k = 4, iters = 2)
    graft.similarity.IvfStore.build(emb.filter(col("vec_id") < 200), s"$dir/ivf", cents)
    graft.similarity.IvfStore.append(
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 240), s"$dir/ivf")
    val rowsBefore = spark.read.parquet(s"$dir/ivf/vectors").count()
    def probe() = graft.similarity.IvfStore
      .probe(emb.filter(col("vec_id") < 5), s"$dir/ivf", k = 5, nprobe = 3)
      .collect().map(_.toString).sorted.toSeq
    val expect = probe()

    // crash one cluster= leaf inside the swap window: rewrite complete in
    // tmp, live dir renamed away — the kill window between the two renames
    val leaf = fs.listStatus(new Path(s"$dir/ivf/vectors"))
      .filter(_.getPath.getName.startsWith("cluster=")).head.getPath
    val ltmp = new Path(leaf.getParent, s".${leaf.getName}.compact.tmp")
    spark.read.parquet(leaf.toString).repartition(1).write.parquet(ltmp.toString)
    fs.rename(leaf, new Path(leaf.getParent, s".${leaf.getName}.compact.old"))
    assert(!fs.exists(leaf))

    // the maintenance pass must finish that swap first, then compact every
    // inverted list — and change neither the row set nor probe results
    val st = graft.similarity.IvfStore.compact(spark, s"$dir/ivf", maxParallel = 4)
    assert(st.filesAfter < st.filesBefore, s"no compaction happened: $st")
    assert(spark.read.parquet(s"$dir/ivf/vectors").count() == rowsBefore,
      "compaction must preserve the exact store row count")
    assert(probe() == expect, "probe results must be unchanged by compaction")
    assert(!fs.listStatus(new Path(s"$dir/ivf/vectors"))
      .exists(_.getPath.getName.contains(".compact.")),
      "no hidden marker dirs may survive the maintenance pass")
  }

  test("VisualIndex: a crashed NESTED child swap (q=/qb=) is recovered; compaction preserves rows and gate results") {
    import graft.multimodal.VisualIndex
    val dir = Files.createTempDirectory("graft-crash-vis").toString
    val vis = s"$dir/vis"
    // signatures straight from a formula — the store/probe contract is on
    // (doc_id, sig) rows, pixels never reach it
    def sigs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("doc_id"),
        (col("id") * lit(2654435761L)).as("sig"))
    VisualIndex.build(sigs(0, 150), vis)
    VisualIndex.append(sigs(150, 200), vis) // second small-file layer
    val rowsBefore = spark.read.parquet(vis).count()
    def probe() = VisualIndex.probe(sigs(200, 240), spark, vis, maxHamming = 3)
      .collect().map(_.toString).sorted.toSeq
    val expect = probe()

    // crash one LEAF swap two levels down: rewrite complete in tmp, live
    // dir renamed away — the kill window between the two renames
    val qDir = fs.listStatus(new Path(vis))
      .filter(_.getPath.getName.startsWith("q=")).head.getPath
    val leaf = fs.listStatus(qDir)
      .filter(_.getPath.getName.startsWith("qb=")).head.getPath
    val ltmp = new Path(leaf.getParent, s".${leaf.getName}.compact.tmp")
    spark.read.parquet(leaf.toString).repartition(1).write.parquet(ltmp.toString)
    fs.rename(leaf, new Path(leaf.getParent, s".${leaf.getName}.compact.old"))
    assert(!fs.exists(leaf))

    // the nested maintenance pass must finish that swap first, then
    // compact every leaf — and change neither the row set nor the gate
    val st = Compaction.compactPartitions(spark, vis, targetBytes = 1L << 30)
    assert(st.filesAfter < st.filesBefore, s"no compaction happened: $st")
    assert(spark.read.parquet(vis).count() == rowsBefore,
      "compaction must preserve the exact index row count")
    assert(probe() == expect, "gate results must be unchanged by compaction")
    def noMarkers(p: Path): Unit = fs.listStatus(p).foreach { s =>
      assert(!s.getPath.getName.contains(".compact."),
        s"marker survived: ${s.getPath}")
      if (s.isDirectory) noMarkers(s.getPath)
    }
    noMarkers(new Path(vis))
  }

  /** Hand-build the kill window of a `Compaction.swapIn` of `live`: the
    * complete rewrite `staged` (written by Spark, so with `_SUCCESS`) under
    * the staged name, and the live dir renamed to the old name.
    */
  private def killBetweenRenames(live: String,
      staged: org.apache.spark.sql.DataFrame): Unit = {
    val p = new Path(live)
    staged.coalesce(1).write.parquet(s"${p.getParent}/.${p.getName}.compact.tmp")
    assert(fs.rename(p, new Path(p.getParent, s".${p.getName}.compact.old")))
    assert(!fs.exists(p))
  }

  test("MergeOnRead.compact killed between its renames: the next compact converges to the never-crashed rows, and the deltas survive the crash") {
    import spark.implicits._
    import graft.etl.MergeOnRead
    val dir = Files.createTempDirectory("graft-crash-mor").toString
    def land(at: String): Unit = {
      Seq((1L, "a", 0L, "u"), (2L, "b", 0L, "u"), (3L, "c", 0L, "u"))
        .toDF("k", "v", "version", "op").write.parquet(s"$at/base")
      Seq((2L, "b2", 1L, "u"), (3L, "c", 1L, "d"), (4L, "d", 1L, "u"))
        .toDF("k", "v", "version", "op").write.parquet(s"$at/delta")
    }
    def rows(at: String) = spark.read.parquet(s"$at/base")
      .collect().map(_.toString).sorted.toSeq
    land(s"$dir/twin")
    MergeOnRead.compact(spark, s"$dir/twin/base", s"$dir/twin/delta", Seq("k"), "version")
    val want = rows(s"$dir/twin")
    assert(want.size == 3)

    val at = s"$dir/crash"
    land(at)
    val folded = MergeOnRead.latest(spark.read.parquet(s"$at/base")
      .unionByName(spark.read.parquet(s"$at/delta")), Seq("k"), "version")
      .withColumn("version", lit(0L)).withColumn("op", lit("u"))
    killBetweenRenames(s"$at/base", folded)
    assert(fs.exists(new Path(s"$at/delta")), "the deltas outlive the crash")
    MergeOnRead.compact(spark, s"$at/base", s"$at/delta", Seq("k"), "version")
    assert(rows(at) == want)
    assert(!fs.exists(new Path(s"$at/delta")))
    assert(fs.listStatus(new Path(at)).map(_.getPath.getName).toSet == Set("base"))
  }

  test("Purge.purge killed between its renames: the next purge converges to the never-crashed rows") {
    import spark.implicits._
    import graft.etl.Purge
    val dir = Files.createTempDirectory("graft-crash-purge").toString
    def land(at: String): Unit =
      (1L to 40L).map(k => (k, s"v$k")).toDF("key", "v").write.parquet(s"$at/t")
    val keys = Seq(3L, 7L).toDF("key")
    def rows(at: String) = spark.read.parquet(s"$at/t")
      .collect().map(_.toString).sorted.toSeq
    land(s"$dir/twin")
    Purge.purge(spark, s"$dir/twin/t", "key", keys)
    val want = rows(s"$dir/twin")
    assert(want.size == 38)

    val at = s"$dir/crash"
    land(at)
    killBetweenRenames(s"$at/t", spark.read.parquet(s"$at/t").filter(!col("key").isin(3L, 7L)))
    val st = Purge.purge(spark, s"$at/t", "key", keys)
    assert(rows(at) == want)
    assert(st.rowsBefore == 38L && st.rowsAfter == 38L)
    assert(fs.listStatus(new Path(at)).map(_.getPath.getName).toSet == Set("t"))
  }
}
