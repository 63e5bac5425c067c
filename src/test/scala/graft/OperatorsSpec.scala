package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.etl.{EtlRunner, JobConfig}
import graft.operators.{AsofJoin, CatalogOps, JobLock, SaltedJoin}
import graft.sources.Sources

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("asof join picks the most recent right row at or before each left time") {
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 150L), (2L, 99L, 990L))
      .toDF("k", "t", "rv")
    val out = AsofJoin(left, right, "k", "t", Seq("rv"))
      .select("lv", "asof_rv").as[(String, Option[Long])].collect().toMap
    assert(out("a").contains(100L)) // equal time: right visible
    assert(out("b").contains(150L)) // latest at-or-before 20 is 15
    assert(out("c").isEmpty)        // nothing at-or-before 5
    assert(out("d").isEmpty)        // right row is after left time
  }

  test("salted join equals the plain join result") {
    val big = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val small = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = big.join(small, "o_custkey")
    val salted = SaltedJoin(big, small, "o_custkey", tieBreak = "o_orderkey", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("catalog ops: ddl, columns, external table, drop, files") {
    val tmp = Files.createTempDirectory("graft-cat").toString
    val nation = Tables.nation(spark, sf)
    assert(CatalogOps.columns(nation) == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(CatalogOps.ddl(nation).contains("n_nationkey INT"))
    nation.write.mode("overwrite").parquet(s"$tmp/nat")
    assert(!CatalogOps.tableExists(spark, "nat_ext"))
    CatalogOps.createExternalTable(spark, "nat_ext", s"$tmp/nat", "parquet")
    assert(CatalogOps.tableExists(spark, "nat_ext"))
    assert(spark.table("nat_ext").count() == nation.count())
    CatalogOps.dropTable(spark, "nat_ext")
    assert(!CatalogOps.tableExists(spark, "nat_ext"))
    assert(CatalogOps.dropFiles(spark, s"$tmp/nat"))
    assert(!new java.io.File(s"$tmp/nat").exists())
  }

  test("job lock: second acquire fails until released") {
    val tmp = Files.createTempDirectory("graft-lock").toString
    val l1 = new JobLock(spark, s"$tmp/t.lock")
    val l2 = new JobLock(spark, s"$tmp/t.lock")
    assert(l1.acquire())
    assert(!l2.acquire())
    l1.release()
    assert(l2.acquire())
    l2.release()
  }

  test("EtlRunner drives a fact + dim config sequence like run_sqoop_job.sh") {
    val tmp = Files.createTempDirectory("graft-runner").toString
    val out = EtlRunner.runAllFrom(spark, tmp, Seq(
      JobConfig(tableName = "orders", numMappers = 2) -> Tables.orders(spark, sf),
      JobConfig(tableName = "nation", primaryId = "") -> Tables.nation(spark, sf))
      .map { case (cfg, df) => cfg -> (EtlRunner.RelationSource(df): EtlRunner.EtlSource) })
    assert(out("orders").exists(_.nonEmpty))
    assert(out("nation").contains(Seq(0L)))
    assert(spark.read.orc(s"$tmp/data/orders").count() ==
      Tables.orders(spark, sf).count())
  }

  test("EtlRunner.runAllConcurrent drains independent tables in parallel; a held lock still skips") {
    val tmp = Files.createTempDirectory("graft-runnerc").toString
    // hold customer's lock up front: the concurrent runner must skip it
    // (None) exactly like the sequential one — lock semantics unchanged
    val held = new JobLock(spark, s"$tmp/locks/customer.lock")
    assert(held.acquire())
    val out = EtlRunner.runAllFrom(spark, tmp, Seq(
      JobConfig(tableName = "orders", numMappers = 2) -> Tables.orders(spark, sf),
      JobConfig(tableName = "nation", primaryId = "") -> Tables.nation(spark, sf),
      JobConfig(tableName = "customer", primaryId = "") -> Tables.customer(spark, sf))
      .map { case (cfg, df) => cfg -> (EtlRunner.RelationSource(df): EtlRunner.EtlSource) },
      maxParallel = 3)
    held.release()
    assert(out("orders").exists(_.nonEmpty))
    assert(out("nation").contains(Seq(0L)))
    assert(out("customer").isEmpty) // locked → skipped, like the reference
    assert(spark.read.orc(s"$tmp/data/orders").count() ==
      Tables.orders(spark, sf).count())
    assert(spark.read.orc(s"$tmp/data/nation").count() ==
      Tables.nation(spark, sf).count())
  }

  test("boundsOf reports min/max for split planning (A4)") {
    val (lo, hi) = Sources.boundsOf(Tables.orders(spark, sf), "o_orderkey")
    assert(lo >= 0 && hi > lo)
  }

  test("status delete removes exactly the targeted unit (M3)") {
    val tmp = Files.createTempDirectory("graft-del").toString
    val store = new graft.etl.StatusStore(spark, s"$tmp/status")
    val t = new java.sql.Timestamp(0L)
    store.append(Seq(
      graft.etl.BackupStatus("t", "db", t, None, "m", 1L, isComplete = false, 1),
      graft.etl.BackupStatus("t", "db", t, None, "m", 2L, isComplete = false, 1)))
    store.delete("t", 1L)
    assert(store.read().collect().map(_.primaryPartitionValue).toSeq == Seq(2L))
  }

  test("range join equals the naive theta join and plans no nested loop") {
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val banded = graft.operators.RangeJoin(purchases, clicks, Seq("user_id"),
      "ts", "click_ts", -3600L, 0L)
    val naive = purchases.join(clicks,
      purchases("user_id") === clicks("user_id") &&
        clicks("click_ts") >= purchases("ts") - expr("INTERVAL 1 HOUR") &&
        clicks("click_ts") < purchases("ts"))
    val got = banded.select("event_id", "click_id").as[(Long, Long)]
      .collect().toSet
    val want = naive.select(purchases("event_id"), col("click_id"))
      .as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got == want)
    assert(!banded.queryExecution.executedPlan.toString.contains("NestedLoop"))
  }

  test("compaction merges small files, preserves rows/schema, and is atomic") {
    val tmp = Files.createTempDirectory("graft-compact").toString
    val li = Tables.lineitem(spark, sf)
    li.repartition(40).write.parquet(s"$tmp/t")
    val before = li.count()
    val stats = graft.sources.Compaction.compact(spark, s"$tmp/t",
      targetBytes = 1L * 1024 * 1024)
    val after = spark.read.parquet(s"$tmp/t")
    assert(stats.filesBefore == 40)
    assert(stats.filesAfter < 40)
    assert(after.count() == before)
    assert(after.schema == li.schema)
    // no stray staging dirs left behind
    val leftovers = new java.io.File(tmp).listFiles().map(_.getName)
      .filter(_.contains("compact"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("compactPartitions honors maxParallel exactly on a NESTED layout (one shared pool, not one per level)") {
    val tmp = Files.createTempDirectory("graft-compact-throttle").toString
    val root = s"$tmp/store"
    // 4 × 8 = 32 leaves, several files each — the r7 shape ran up to
    // maxParallel² concurrent leaf jobs here (a pool per recursion level).
    // targetBytes is set BELOW the leaf size so every leaf needs >1 output
    // file, which routes through the pooled per-leaf path (the fused
    // single-job path, covered by the test below, handles the 1-file case).
    spark.range(4000)
      .select(col("id"),
        pmod(col("id"), lit(4)).as("q"), pmod(col("id") / 4, lit(8)).as("qb"))
      .repartition(4)
      .write.partitionBy("q", "qb").parquet(root)
    val st = graft.sources.Compaction.compactPartitions(spark, root,
      targetBytes = 512L, maxParallel = 4)
    val peak = st.peakParallel
    assert(peak <= 4, s"throttle exceeded: $peak concurrent leaf rewrites")
    assert(peak >= 2, s"pooling never overlapped leaves (peak=$peak)")
    assert(st.filesBefore > 32, st.toString)
    assert(spark.read.parquet(root).count() == 4000)
  }

  test("compactPartitions fused path: one job, one file per leaf, rows and layout preserved, no leftovers") {
    val tmp = Files.createTempDirectory("graft-compact-fused").toString
    val root = s"$tmp/store"
    spark.range(4000)
      .select(col("id"),
        pmod(col("id"), lit(4)).as("q"), pmod(col("id") / 4, lit(8)).as("qb"))
      .repartition(4)
      .write.partitionBy("q", "qb").parquet(root)
    val before = spark.read.parquet(root)
      .groupBy("q", "qb").count().collect()
      .map(r => (r.get(0).toString, r.get(1).toString) -> r.getLong(2)).toMap
    val st = graft.sources.Compaction.compactPartitions(spark, root,
      targetBytes = 1L << 30, maxParallel = 4)
    assert(st.filesAfter == 32 && st.filesBefore > st.filesAfter, st.toString)
    val after = spark.read.parquet(root)
      .groupBy("q", "qb").count().collect()
      .map(r => (r.get(0).toString, r.get(1).toString) -> r.getLong(2)).toMap
    assert(after == before, "per-leaf row counts must survive the fused rewrite")
    // partition-dir names round-trip byte-identically; no hidden leftovers
    def sweep(f: java.io.File): Unit = {
      assert(!f.getName.contains(".compact."), s"leftover: $f")
      if (f.isDirectory) f.listFiles().foreach(sweep)
    }
    sweep(new java.io.File(root))
    val qDirs = new java.io.File(root).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(qDirs.toSeq == Seq("q=0", "q=1", "q=2", "q=3"), qDirs.mkString(","))
  }

  test("compact REFUSES a partitioned root (would silently flatten the layout)") {
    val tmp = Files.createTempDirectory("graft-compact-guard").toString
    val root = s"$tmp/store"
    spark.range(100)
      .select(col("id"), pmod(col("id"), lit(4)).as("q"))
      .write.partitionBy("q").parquet(root)
    val e = intercept[IllegalArgumentException] {
      graft.sources.Compaction.compact(spark, root)
    }
    assert(e.getMessage.contains("compactPartitions"), e.getMessage)
    // the store is untouched: same partition dirs, same rows
    assert(spark.read.parquet(root).count() == 100)
    assert(new java.io.File(root).listFiles().count(f =>
      f.isDirectory && f.getName.startsWith("q=")) == 4)
  }

  test("compactPartitions throws LOUDLY on a mixed data+partition-dir layout") {
    val tmp = Files.createTempDirectory("graft-compact-mixed").toString
    val root = s"$tmp/store"
    spark.range(100)
      .select(col("id"), pmod(col("id"), lit(2)).as("q"),
        pmod(col("id"), lit(3)).as("qb"))
      .write.partitionBy("q", "qb").parquet(root)
    // corrupt one q= dir: drop a stray data file beside its qb= children
    val stray = new java.io.File(s"$root/q=0/stray.parquet")
    val donor = new java.io.File(s"$root/q=0/qb=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath, stray.toPath)
    val e = intercept[IllegalStateException] {
      graft.sources.Compaction.compactPartitions(spark, root)
    }
    assert(e.getMessage.contains("mixed layout"), e.getMessage)
  }

  test("swap renames fail LOUDLY (renameOrThrow), not silently") {
    val tmp = Files.createTempDirectory("graft-rename").toString
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a rename whose source doesn't exist is the canonical false return —
    // the swap path must surface it as an error, never proceed
    intercept[java.io.IOException] {
      graft.sources.Compaction.renameOrThrow(fs,
        new org.apache.hadoop.fs.Path(s"$tmp/nope"),
        new org.apache.hadoop.fs.Path(s"$tmp/dst"))
    }
  }

  test("z-order layout tightens per-file ranges on BOTH columns vs linear sort") {
    val tmp = Files.createTempDirectory("graft-zorder").toString
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
    graft.sources.ZOrder.write(li, "l_partkey", "l_suppkey", s"$tmp/z", 12)
    li.repartitionByRange(12, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/linear")
    def avgRange(path: String, c: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("r"))
        .agg(avg("r")).head().getDouble(0)
    val zSupp = avgRange(s"$tmp/z", "l_suppkey")
    val linSupp = avgRange(s"$tmp/linear", "l_suppkey")
    // the linear sort leaves the second column unclustered (near-global
    // per-file ranges); the Morton curve must clearly beat it on that column
    assert(zSupp < linSupp * 0.6, s"zSupp=$zSupp linSupp=$linSupp")
    // and still cluster the first column far better than random placement
    val global = li.agg(max("l_partkey").cast("double") -
      min("l_partkey").cast("double")).head().getDouble(0)
    assert(avgRange(s"$tmp/z", "l_partkey") < global * 0.7)
  }

  test("connected components labels every node with its component's min id") {
    // two chains (path graphs — worst case for plain propagation), one
    // triangle with a duplicate + reversed edge, one isolated pair
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), // chain {1..5}
      (10L, 11L), (11L, 10L), (11L, 12L), (10L, 12L), // triangle {10,11,12}
      (20L, 21L), // pair
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L), (34L, 35L)) // chain {30..35}
      .toDF("src", "dst")
    val want = (1L to 5L).map(_ -> 1L).toMap ++
      Seq(10L, 11L, 12L).map(_ -> 10L) ++
      Seq(20L -> 20L, 21L -> 20L) ++
      (30L to 35L).map(_ -> 30L)
    // single-task union-find fast path (default for small edge lists) …
    val local = graft.operators.ConnectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(local == want)
    // … and the distributed min-label loop must produce identical labels
    val dist = graft.operators.ConnectedComponents(edges, maxLocalEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist == want)
  }

  test("incremental CC merge equals from-scratch on adversarial waves") {
    // wave 0: chain {1..5}, triangle {10,11,12}, pair {20,21}, chain {30..35}
    val wave0 = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L), (34L, 35L))
      .toDF("src", "dst")
    // wave 1 exercises every merge shape: a bridge joining two previous
    // components ({1..5} ↔ {10,11,12}), a redundant edge INSIDE a previous
    // component (collapsed self-loop, {30..35} must stay untouched), a new
    // node with an id BELOW the old component min (0 joins {20,21} → the
    // merged label must DROP to 0), a brand-new component {40,41}, and a
    // chain of new nodes hanging off an old one (50-51-52 onto 35)
    val wave1 = Seq(
      (5L, 10L),
      (31L, 34L),
      (0L, 21L),
      (40L, 41L),
      (35L, 50L), (50L, 51L), (51L, 52L))
      .toDF("src", "dst")
    val scratch = graft.operators.ConnectedComponents(
      wave0.unionByName(wave1)).as[(Long, Long)].collect().toMap
    for (forceDistributed <- Seq(false, true)) {
      val cap = if (forceDistributed) 0L else
        graft.operators.ConnectedComponents.MaxLocalEdges
      val prev = graft.operators.ConnectedComponents(
        wave0, maxLocalEdges = cap)
      val merged = graft.operators.ConnectedComponents
        .merge(prev, wave1, maxLocalEdges = cap)
        .as[(Long, Long)].collect().toMap
      assert(merged == scratch, s"forceDistributed=$forceDistributed")
    }
    // chained waves: merging the output of a merge stays consistent
    val wave2 = Seq((41L, 52L), (12L, 30L)).toDF("src", "dst")
    val twice = graft.operators.ConnectedComponents.merge(
      graft.operators.ConnectedComponents.merge(
        graft.operators.ConnectedComponents(wave0), wave1),
      wave2).as[(Long, Long)].collect().toMap
    val scratch3 = graft.operators.ConnectedComponents(
      wave0.unionByName(wave1).unionByName(wave2))
      .as[(Long, Long)].collect().toMap
    assert(twice == scratch3)
  }

  test("custom AsofJoinExec physical operator equals the compositional as-of join") {
    import org.apache.spark.sql.graftx.{AsofJoinExec, AsofPhysical}
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"),
      (3L, 7L, "e")) // key 3 has no right rows
      .toDF("k", "t", "lv")
    val right = Seq((1L, 10L, 100L), (1L, 15L, 150L), (2L, 99L, 990L),
      (4L, 1L, 400L)) // key 4 has no left rows
      .toDF("k", "t", "rv")
    val exec = AsofPhysical.asof(left, right, "k", "t", Seq("rv"))
    // the plan actually contains the custom operator
    assert(exec.queryExecution.executedPlan.toString.contains("AsofJoin") ||
      exec.queryExecution.sparkPlan.collectFirst { case e: AsofJoinExec => e }.nonEmpty)
    val got = exec.select("lv", "asof_rv").as[(String, Option[Long])].collect().toMap
    val want = AsofJoin(left, right, "k", "t", Seq("rv"))
      .select("lv", "asof_rv").as[(String, Option[Long])].collect().toMap
    assert(got == want)
    assert(got == Map("a" -> Some(100L), "b" -> Some(150L), "c" -> None,
      "d" -> None, "e" -> None))
    // and on real data: every event matched like the compositional operator
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("tms"))
      .limit(2000)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_millis(col("ts")).as("tms"), col("event_id"))
      .groupBy(col("user_id"), col("tms")).agg(max(col("event_id")).as("p_id"))
    val a = AsofPhysical.asof(ev, purchases, "user_id", "tms", Seq("p_id"))
      .select("event_id", "asof_p_id").as[(Long, Option[Long])].collect().toMap
    val b = AsofJoin(ev, purchases, "user_id", "tms", Seq("p_id"))
      .select("event_id", "asof_p_id").as[(Long, Option[Long])].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("connected components: local and distributed paths agree on a 50k-edge graph") {
    // deterministic pseudo-random graph with chains and clusters
    val edges = spark.range(50000).selectExpr(
      "id % 17000 AS src",
      "CASE WHEN id % 7 = 0 THEN id % 17000 + 1 ELSE (id * 2654435761) % 17000 END AS dst")
    val local = graft.operators.ConnectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val dist = graft.operators.ConnectedComponents(edges, maxLocalEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local.nonEmpty && local == dist)
  }

  test("shingle generator equals the array-based shingle definition") {
    import org.apache.spark.sql.graftx.Sketches
    val docs = Tables.documents(spark, sf).limit(200)
    val gen = docs.select(col("doc_id"),
      Sketches.shingle_explode(col("text"), 3).as("s"))
      .as[(Long, String)].collect().toSeq.sorted
    val arr = docs.select(col("doc_id"),
      explode(transform(
        sequence(lit(1), greatest(size(split(col("text"), " ")) - lit(2), lit(1))),
        i => concat_ws(" ", slice(split(col("text"), " "), i, lit(3))))).as("s"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(gen == arr && gen.nonEmpty)
  }

  test("merge-on-read: latest version wins, tombstones delete, base survives") {
    import graft.etl.MergeOnRead
    val base = Seq((1L, "a", 0L, "u"), (2L, "b", 0L, "u"), (3L, "c", 0L, "u"))
      .toDF("k", "v", "version", "op")
    val delta = Seq((2L, "b2", 1L, "u"), (3L, "c", 1L, "d"), (4L, "d", 1L, "u"))
      .toDF("k", "v", "version", "op")
    val got = MergeOnRead.latest(base.unionByName(delta), Seq("k"), "version")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 4L -> "d")) // 3 tombstoned
    // re-insert after delete: higher version revives the key
    val delta2 = Seq((3L, "c3", 2L, "u")).toDF("k", "v", "version", "op")
    val got2 = MergeOnRead.latest(
      base.unionByName(delta).unionByName(delta2), Seq("k"), "version")
      .as[(Long, String)].collect().toMap
    assert(got2(3L) == "c3")
  }

  test("merge-on-read compaction folds deltas into the base atomically") {
    import graft.etl.MergeOnRead
    val tmp = Files.createTempDirectory("graft-mor").toString
    val base = Seq((1L, "a", 0L, "u"), (2L, "b", 0L, "u"), (3L, "c", 0L, "u"))
      .toDF("k", "v", "version", "op")
    base.write.parquet(s"$tmp/base")
    Seq((2L, "b2", 1L, "u"), (3L, "c", 1L, "d"), (4L, "d", 1L, "u"))
      .toDF("k", "v", "version", "op")
      .write.parquet(s"$tmp/delta")
    MergeOnRead.compact(spark, s"$tmp/base", s"$tmp/delta", Seq("k"), "version")
    val back = spark.read.parquet(s"$tmp/base")
    assert(back.select("k", "v").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b2", 4L -> "d"))
    assert(back.filter(col("version") =!= 0L || col("op") =!= "u").isEmpty)
    // delta dir emptied; a second compact with no deltas is a no-op
    MergeOnRead.compact(spark, s"$tmp/base", s"$tmp/delta", Seq("k"), "version")
    assert(spark.read.parquet(s"$tmp/base").count() == 3)
  }

  test("dedup clusters: pair endpoints share a cluster labeled by its min id") {
    val docs = Tables.documents(spark, sf)
    val pairs = graft.dedup.Dedup.ngramJaccardPairs(docs, threshold = 0.6)
    val cc = graft.operators.ConnectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    val pairRows = pairs.select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairRows.nonEmpty)
    pairRows.foreach { case (a, b) => assert(cc(a) == cc(b)) }
    // every cluster label is a member of its own cluster and is the min
    cc.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label)
    }
  }

  test("pagerank: hub with more in-links outranks leaves; ranks are deterministic") {
    // star: 1,2,3 -> 10; plus 2 -> 3
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (2L, 3L))
      .toDF("src", "dst")
    val r = graft.operators.PageRank.run(edges, iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(10L) > r(3L), "hub must outrank the singly-linked node")
    assert(r(3L) > r(1L), "linked node must outrank a leaf")
    val again = graft.operators.PageRank.run(edges.repartition(5), iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == again, "fixed-point ranks must be partitioning-independent")
  }

  test("DSv2 synth source: deterministic rows, column pruning, partition-pruning filters") {
    val fmt = classOf[graft.sources.v2.SynthDocsSource].getName
    def rd = spark.read.format(fmt)
      .option("rows", "1000").option("partitions", "8").option("seed", "7").load()
    assert(rd.count() == 1000)
    // determinism across reads and partition counts
    val a = rd.orderBy("doc_id").collect().map(_.toString)
    val b = spark.read.format(fmt).option("rows", "1000")
      .option("partitions", "3").option("seed", "7").load()
      .orderBy("doc_id").collect().map(_.toString)
    assert(a.sameElements(b))
    // column pruning reaches the scan
    val pruned = rd.select("doc_id", "lang")
    val pp = pruned.queryExecution.executedPlan.toString
    assert(pp.contains("ReadSchema=doc_id,lang"), pp)
    // range filter pushes down and prunes partitions
    val f = rd.filter(col("doc_id") < 125)
    val fp = f.queryExecution.executedPlan.toString
    assert(fp.contains("PushedFilters=[LessThan(doc_id,125)]"), fp)
    assert(f.rdd.getNumPartitions == 1, s"expected 1 surviving partition, got ${f.rdd.getNumPartitions}")
    assert(f.count() == 125)
    // n_chars matches text length (cross-column consistency)
    val bad = rd.filter(length(col("text")) =!= col("n_chars")).count()
    assert(bad == 0)
  }

  test("DSv2 synth source: COUNT/MIN/MAX push down to closed-form partials") {
    val fmt = classOf[graft.sources.v2.SynthDocsSource].getName
    val base = spark.read.format(fmt)
      .option("rows", "1000").option("partitions", "8").option("seed", "7").load()
    val agg = base.filter(col("doc_id") >= 100 && col("doc_id") < 900)
      .agg(expr("count(*)").as("n"), min("doc_id").as("mn"), max("doc_id").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[count, min, max]"), plan)
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (800L, 100L, 899L))
    // an unsupported aggregate falls back to row generation, same answer
    val fallback = base.filter(col("doc_id") >= 100 && col("doc_id") < 900)
      .agg(sum("doc_id")).head().getLong(0)
    assert(fallback == (100L to 899L).sum)
  }

  test("KLL quantile store: counts exact, merged rank error in bound, partitioning-independent") {
    import graft.functions.QuantileStore
    val o = Tables.orders(spark, sf)
      .select(graft.operators.ReferenceOps.monthSid(col("o_orderdate")).as("m"),
        col("o_totalprice").cast("float").as("v"))
    val total = o.count()
    val store = QuantileStore.build(o, col("m"), col("v"))
    // one sketch row per month; the carried n is exact
    assert(store.count() == o.select("m").distinct().count())
    assert(store.agg(sum("n")).head().getLong(0) == total)
    // merged estimate lands within KLL rank error of the true rank
    def rankOf(q: Double, sel: org.apache.spark.sql.DataFrame): Double = {
      val est = QuantileStore.mergeAll(sel).getQuantile(q)
      o.filter(col("v") <= est).count().toDouble / total
    }
    assert(math.abs(rankOf(0.5, store) - 0.5) <= 0.03)
    assert(math.abs(rankOf(0.95, store) - 0.95) <= 0.03)
    // input partitioning must not change carried counts or break the bound
    val store2 = QuantileStore.build(o.repartition(7), col("m"), col("v"))
    assert(store2.agg(sum("n")).head().getLong(0) == total)
    assert(math.abs(rankOf(0.5, store2) - 0.5) <= 0.03)
  }

  test("stats store prunes files on a range-clustered layout, result unchanged") {
    import graft.sources.StatsStore
    val tmp = Files.createTempDirectory("graft-statsstore").toString
    Tables.orders(spark, sf)
      .repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/data")
    val stats = StatsStore.collect(spark, s"$tmp/data", Seq("o_custkey")).localCheckpoint()
    // manifest accounts for every row, intervals are well-formed
    assert(stats.agg(sum("n_rows")).head().getLong(0) ==
      Tables.orders(spark, sf).count())
    assert(stats.filter(col("min_o_custkey") > col("max_o_custkey")).count() == 0)
    // range-clustered layout → a narrow range touches a strict file subset
    val surviving = StatsStore.survivingFiles(stats, "o_custkey", 100L, 200L)
    assert(surviving.nonEmpty && surviving.size < stats.count(),
      s"expected pruning: ${surviving.size} of ${stats.count()} files")
    // pruned read ≡ full read + filter
    val pruned = StatsStore.prunedRead(spark, s"$tmp/data", stats, "o_custkey", 100L, 200L)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    val full = Tables.orders(spark, sf)
      .filter(col("o_custkey") >= 100L && col("o_custkey") <= 200L)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(pruned.sameElements(full))
  }

  test("bloom index: no false negatives, prunes files min/max cannot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bidx").toString
    Tables.orders(spark, sf).repartition(4, col("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmp/d")
    val idx = graft.sources.BloomIndex.build(spark, s"$tmp/d", "o_orderkey",
      expectedPerFile = 1L << 14).localCheckpoint()
    val nFiles = idx.count()
    val keys = Tables.orders(spark, sf).select("o_orderkey")
      .orderBy("o_orderkey").limit(50).collect().map(_.getLong(0))
    var prunedSomething = false
    keys.foreach { k =>
      val files = graft.sources.BloomIndex.survivingFiles(idx, "o_orderkey", k)
      val got = graft.sources.BloomIndex.prunedRead(spark, s"$tmp/d", idx, "o_orderkey", k)
        .count()
      assert(got == 1, s"key $k must be found (no false negatives)")
      if (files.size < nFiles) prunedSomething = true
    }
    assert(prunedSomething, "bloom probe should skip files for at least one key")
    // absent key: may fp into a few files but never returns rows
    assert(graft.sources.BloomIndex
      .prunedRead(spark, s"$tmp/d", idx, "o_orderkey", 999999999L).count() == 0)
  }

  test("aggregate-projection: maintain() appends partials without re-reading facts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ap").toString
    val l = Tables.lineitem(spark, sf)
    val g = Seq("l_returnflag"); val m = Seq("l_quantity")
    graft.etl.AggProjection.build(l.filter(col("l_orderkey") % 2 === 0), g, m, s"$tmp/p")
    graft.etl.AggProjection.maintain(l.filter(col("l_orderkey") % 2 === 1), g, m, s"$tmp/p")
    val got = graft.etl.AggProjection.answer(spark, s"$tmp/p", g, m)
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = l.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        graft.functions.Exact.sumExact(col("l_quantity")).as("s"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(want))
  }

  test("projection rewrite reroutes the naive aggregate to the MV partials") {
    import org.apache.spark.sql.graftx.{MvRegistry, RewriteAggToProjection}
    val tmp = java.nio.file.Files.createTempDirectory("graft-mvr-spec").toString
    val g = Seq("l_returnflag"); val m = Seq("l_extendedprice")
    graft.etl.AggProjection.build(Tables.lineitem(spark, sf), g, m, s"$tmp/proj")
    def naive = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        graft.functions.Exact.sumExact(col("l_extendedprice")).as("s"))
      .orderBy("l_returnflag")
    val direct = naive.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    MvRegistry.clear()
    MvRegistry.register(naive,
      graft.etl.AggProjection.answer(spark, s"$tmp/proj", g, m).orderBy("l_returnflag"))
    if (!spark.experimental.extraOptimizations.contains(RewriteAggToProjection))
      spark.experimental.extraOptimizations ++= Seq(RewriteAggToProjection)
    spark.conf.set("spark.graft.mv.rewrite", "true")
    try {
      val fresh = naive // rebuilt from scratch — matched by canonical equality
      val rows = fresh.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.sameElements(direct), "rewritten result must equal the direct one")
      val p = fresh.queryExecution.executedPlan.toString
      assert(p.contains("proj"), s"expected the projection scan in:\n$p")
      assert(!p.contains("lineitem.parquet"),
        s"fact table must not be scanned after the rewrite:\n$p")
    } finally {
      spark.conf.set("spark.graft.mv.rewrite", "false")
      MvRegistry.clear()
    }
  }

  test("fuzzy join: equals within-block brute force, plans as equi join (no cartesian)") {
    val q = graft.operators.FuzzyJoin.selfJoin(Tables.part(spark, sf), "p_name",
      name => element_at(split(name, " "), 2), maxDist = 3)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"blocked join must be an equi join:\n$plan")
    val got = q.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // brute force over the distinct names (tiny vocabulary at sf0.001)
    val names = Tables.part(spark, sf).select("p_name").distinct()
      .collect().map(_.getString(0))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- names; b <- names
      if a < b && a.split(" ")(1) == b.split(" ")(1)
      dist = lev(a, b) if dist <= 3
    } yield (a, b, dist.toLong)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("KCore: peels the tail, keeps the dense core, reports convergence") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // K4 (complete graph on 1..4) plus a pendant path 4-5-6: 2-core = K4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val r = graft.operators.KCore.run(edges, "a", "b", k = 2, rounds = 4)
      .collect().head
    assert(r.getAs[Long]("n_nodes") === 4L)
    assert(r.getAs[Long]("node_xor") === (1L ^ 2L ^ 3L ^ 4L))
    assert(r.getAs[Long]("n_edges") === 6L)
    assert(r.getAs[Boolean]("converged"))
    // k higher than any degree: everything peels, still converged
    val empty = graft.operators.KCore.run(edges, "a", "b", k = 10, rounds = 3)
      .collect().head
    assert(empty.getAs[Long]("n_nodes") === 0L)
    assert(empty.getAs[Boolean]("converged"))
  }

  test("SkewAgg: salted two-phase aggregate equals the plain aggregate") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
    val salted = graft.operators.SkewAgg.sumCount(li,
      key = col("l_returnflag"), valueCol = col("l_extendedprice"),
      saltFrom = col("l_orderkey"), salts = 8)
      .orderBy("key").collect()
    val plain = li.groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("total"))
      .orderBy("key").collect()
    assert(salted.sameElements(plain))
  }

  test("dict encode: dense lexicographic ids, stable under extension") {
    import spark.implicits._
    val w1 = Seq("pear", "apple", "fig", "apple", "", "fig").toDF("term")
    val d1 = operators.DictEncode.build(w1, "term")
      .orderBy("id").collect().map(r => r.getString(0) -> r.getLong(1))
    // dense 0..n-1, sorted, empties dropped, duplicates collapsed
    assert(d1.toSeq === Seq("apple" -> 0L, "fig" -> 1L, "pear" -> 2L))
    val w2 = Seq("fig", "banana", "quince", "apple").toDF("term")
    val d2 = operators.DictEncode
      .extend(operators.DictEncode.build(w1, "term"), w2, "term")
      .orderBy("id").collect().map(r => r.getString(0) -> r.getLong(1))
    // wave-1 ids untouched; fresh terms dense after max(id), sorted
    assert(d2.toSeq === Seq("apple" -> 0L, "fig" -> 1L, "pear" -> 2L,
      "banana" -> 3L, "quince" -> 4L))
    // extending an empty dict is a plain build
    val d0 = operators.DictEncode.extend(
      operators.DictEncode.build(Seq.empty[String].toDF("term"), "term"),
      w2, "term").orderBy("id").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(d0.toSeq === Seq("apple" -> 0L, "banana" -> 1L, "fig" -> 2L,
      "quince" -> 3L))
    // encode joins facts to ids; unseen terms stay null
    val facts = Seq(("pear", 10), ("mystery", 20)).toDF("term", "v")
    val enc = operators.DictEncode
      .encode(facts, operators.DictEncode.build(w1, "term"), "term")
      .orderBy("v").collect()
    assert(enc(0).getLong(2) === 2L && enc(1).isNullAt(2))
  }

  test("pre-join projection eliminates the join: no join node, bases unscanned") {
    import org.apache.spark.sql.graftx.MvRegistry
    MvRegistry.clear()
    try {
      val df = QueryCatalog.queries("q_mv_prejoin")(spark, sf)
      // semantics: identical to the un-rewritten join aggregate
      val direct = Tables.orders(spark, sf).join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(o_orderkey)").as("key_xor"),
          graft.functions.Exact.sumExact(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment").collect()
      assert(df.collect().sameElements(direct))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("prejoin"), s"expected the projection scan in:\n$p")
      assert(!p.contains("Join"), s"join must be gone after the rewrite:\n$p")
      assert(!p.contains("orders.parquet") && !p.contains("customer.parquet"),
        s"base tables must not be scanned after the rewrite:\n$p")
    } finally {
      MvRegistry.clear()
      spark.conf.set("spark.graft.mv.rewrite", "false")
    }
  }

  test("pre-join projection maintain: incremental loads equal a full rebuild") {
    import graft.etl.PrejoinProjection
    val tmp = java.nio.file.Files.createTempDirectory("graft-pjm").toString
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val cols = Seq(col("o_orderkey"), col("o_totalprice"), col("c_mktsegment"))
    val on = col("o_custkey") === col("c_custkey")
    val orders = Tables.orders(spark, sf)
    // wave 1 build + wave 2 maintain (delta-only join, no re-read)
    PrejoinProjection.build(orders.filter(col("o_orderkey") % 3 === 0),
      dim, on, cols, s"$tmp/inc")
    PrejoinProjection.maintain(orders.filter(col("o_orderkey") % 3 =!= 0),
      dim, on, cols, s"$tmp/inc")
    PrejoinProjection.build(orders, dim, on, cols, s"$tmp/full")
    val inc = PrejoinProjection.answer(spark, s"$tmp/inc")
    val full = PrejoinProjection.answer(spark, s"$tmp/full")
    assert(inc.count() === full.count())
    assert(inc.exceptAll(full).count() === 0L &&
      full.exceptAll(inc).count() === 0L)
  }

  test("shortest paths: hand-checked distances, indirect beats direct, converges") {
    import spark.implicits._
    // 0 →1→ 2 →1→ 4, plus a direct 0 →5→ 4 that must LOSE; 6→8 unreachable
    val edges = Seq((0L, 2L, 1L), (2L, 4L, 1L), (0L, 4L, 5L), (6L, 8L, 1L))
      .toDF("src", "dst", "w")
    val r = operators.ShortestPaths.run(edges, source = 0L, rounds = 4).head()
    assert(r.getAs[Long]("n_reached") === 3L) // 0, 2, 4
    assert(r.getAs[Long]("dist_sum") === 3L)  // 0 + 1 + 2
    assert(r.getAs[Long]("dist_max") === 2L)  // 4 via 2, not the direct 5
    assert(r.getAs[Boolean]("converged"))
    val expectedXor = Seq(0L * 100000 + 0, 2L * 100000 + 1, 4L * 100000 + 2)
      .reduce(_ ^ _)
    assert(r.getAs[Long]("path_xor") === expectedXor)
  }

  test("purge: drops exactly the condemned keys, leaves the store atomic") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-purge-spec").toString
    (1L to 100L).map(k => (k, s"v$k")).toDF("key", "v")
      .write.parquet(s"$tmp/t")
    val keys = Seq(3L, 7L, 7L, 999L).toDF("key") // dup + absent tolerated
    val st = graft.etl.Purge.purge(spark, s"$tmp/t", "key", keys)
    assert(st.rowsBefore === 100L && st.rowsAfter === 98L)
    val left = spark.read.parquet(s"$tmp/t").select("key")
      .collect().map(_.getLong(0)).toSet
    assert(!left.contains(3L) && !left.contains(7L) && left.size === 98)
    // no stray temp/old dirs after the swap
    val names = new java.io.File(tmp).listFiles().map(_.getName).toSet
    assert(names === Set("t"))
    // purgeAll: one batch across a family, per-table key columns
    (1L to 50L).map(k => (k, k * 2)).toDF("fk", "w")
      .write.parquet(s"$tmp/t2")
    val all = graft.etl.Purge.purgeAll(spark,
      Seq(s"$tmp/t" -> "key", s"$tmp/t2" -> "fk"), Seq(10L, 11L).toDF("k"))
    assert(all.map(s => (s.table, s.rowsBefore, s.rowsAfter)) ===
      Seq(("t", 98L, 96L), ("t2", 50L, 48L)))
  }

  test("reconcile: bucket digests find exactly the dropped/added/changed rows") {
    import spark.implicits._
    import operators.Reconcile
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(col("key"),
      Reconcile.fingerprint(col("key"), col("v")).as("fp"))
    val src = (1L to 1000L).map(k => (k, k * 3)).toDF("key", "v")
    // replica: drop 7, change 500's value, add 2001
    val rep = src.filter(col("key") =!= 7L)
      .withColumn("v", when(col("key") === 500L, lit(-1L)).otherwise(col("v")))
      .unionByName(Seq((2001L, 9L)).toDF("key", "v"))
    val diffs = Reconcile.rowDiff(proj(src), proj(rep), nBuckets = 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(diffs === Set("only_left" -> 7L, "changed" -> 500L,
      "only_right" -> 2001L))
    // identical replicas: zero mismatched buckets, empty diff
    assert(Reconcile.bucketDiff(proj(src), proj(src), 16).count() === 0L)
    assert(Reconcile.rowDiff(proj(src), proj(src), 16).count() === 0L)
    // the mismatched-bucket set is exactly the diffs' buckets
    val bad = Reconcile.bucketDiff(proj(src), proj(rep), 16)
      .collect().map(_.getLong(0)).toSet
    assert(bad === Set(7L % 16, 500L % 16, 2001L % 16))
    // repair converges the replica: digests agree, values equal the source
    val repaired = Reconcile.repair(src, rep,
      Reconcile.rowDiff(proj(src), proj(rep), 16))
    assert(Reconcile.bucketDiff(proj(src), proj(repaired), 16).count() === 0L)
    assert(repaired.exceptAll(src).count() === 0L &&
      src.exceptAll(repaired).count() === 0L)
  }

  test("personalized pagerank: zero rank off the source's reachable set, base on sources") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // chain 10→11→12 plus a component 20→21 unreachable from the source
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("src", "dst")
    val r = operators.PageRank
      .runPersonalized(edges, col("node") === 10L, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(20L) == 0L && r(21L) == 0L) // teleport never lands there
    assert(r(10L) > 0L && r(11L) > 0L && r(12L) > 0L)
    assert(r(10L) > r(12L)) // proximity decays along the chain
    // full-graph teleport (plain pagerank) would give 20/21 mass; the
    // personalized run must not
    val plain = operators.PageRank.run(edges, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(plain(21L) > 0L)
  }

  test("profile: exact and approx variants agree (NDV within HLL tolerance), no Expand in exact plan") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf)
    val nums = Seq("l_quantity", "l_extendedprice")
    val strs = Seq("l_returnflag")
    val exact = operators.Profile.profile(li, nums, strs)
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = operators.Profile.profileApprox(li, nums, strs)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(exact.keySet == (nums ++ strs).toSet)
    (nums ++ strs).foreach { c =>
      val (e, a) = (exact(c), approx(c))
      assert(e.getLong(1) == a.getLong(1) && e.getLong(2) == a.getLong(2))
      val (ndvE, ndvA) = (e.getLong(3), a.getLong(3))
      assert(math.abs(ndvA - ndvE) <= math.max(2L, (ndvE * 0.1).toLong),
        s"$c ndv exact=$ndvE approx=$ndvA")
      assert(e.get(4) == a.get(4) && e.get(5) == a.get(5) &&
        e.get(6) == a.get(6) && e.get(7) == a.get(7))
    }
    // the exact variant must not plan the multi-distinct Expand
    val plan = operators.Profile.profile(li, nums, strs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "exact profile planned an Expand")
    // dimension sanity on a known column
    assert(exact("l_returnflag").getLong(3) == li.select(col("l_returnflag"))
      .distinct().count())
  }
}
