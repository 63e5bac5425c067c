package graft
package catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.operators.ReferenceOps

import CatalogCommon._
import Kind.{Batch, Pipeline}

/** The paper's loop as declared queries: the reference job's operators
  * (partition discovery, oldest-pending, row counts, buckets, DDL) and the
  * `q_etl_*` runs of the incremental backup, each read back and checked
  * against the source.
  */
private[graft] object EtlQueries {

  // ------------------------------------------------------------ reference ops

  private val qPartitionDiscovery: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val status = o.select(monthSid(col("o_orderdate")).as("month_sid"))
      .filter(col("month_sid") < 199800).distinct()
    ReferenceOps.discoverPendingPartitions(o, monthSid(col("o_orderdate")), status, 2)
      .orderBy("month_sid")
  }

  private val partitionDiscoverySql =
    s"""WITH discovered AS (
       |  SELECT month_sid, row_number() OVER (ORDER BY month_sid DESC) AS rn
       |  FROM (SELECT DISTINCT $monthSidSql AS month_sid FROM orders) c
       |), status AS (
       |  SELECT DISTINCT $monthSidSql AS month_sid FROM orders
       |  WHERE $monthSidSql < 199800
       |)
       |SELECT d.month_sid FROM discovered d
       |WHERE d.rn > 2
       |  AND NOT EXISTS (SELECT 1 FROM status s WHERE s.month_sid = d.month_sid)
       |ORDER BY d.month_sid""".stripMargin

  private val qOldestPending: Q = (s, dir) =>
    ReferenceOps.oldestPending(qPartitionDiscovery(s, dir))

  private val qPartitionRowcount: Q = (s, dir) =>
    ReferenceOps.partitionRowCount(Tables.orders(s, dir), monthSid(col("o_orderdate")), 199801L)

  private val qDistinctPartitions: Q = (s, dir) =>
    ReferenceOps.distinctPartitions(Tables.orders(s, dir), monthSid(col("o_orderdate")))
      .orderBy("month_sid")

  private val qBucketHistogram: Q = (s, dir) =>
    ReferenceOps.bucketHistogram(Tables.orders(s, dir), col("o_orderkey"), 8)
      .orderBy("bucket")

  private val qSchemaDdl: Q = (s, dir) =>
    ReferenceOps.concatProjection(Tables.nation(s, dir), Tables.region(s, dir))
      .orderBy("n_nationkey")

  private val qCustomersWithoutOrders: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")).orderBy("c_custkey")
  }

  private val qSegmentWithOrders: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  private val qLatestOrderPerCustomer: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy("o_custkey")
  }

  /** The WHOLE reference job as a correctness-gated query: run the
    * incremental partition-by-partition backup (discover → copy oldest-first
    * → mark complete, tuned ORC output), then aggregate the READ-BACK files
    * per partition. The oracle aggregates the source directly — they match
    * iff every partition was copied exactly once and read back losslessly.
    */
  private val qEtlBackup: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-q").toString
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.drain(etl.EtlRunner.RelationSource(Tables.orders(s, dir)))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  private val etlBackupSql =
    s"""SELECT $monthSidSql AS month_sid, COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** The backfill twin of [[qEtlBackup]]: ONE `partitionBy(pid)` job writes
    * every pending partition (`IncrementalBackup.runBulk`) instead of a job
    * per partition. Same oracle — the at-rest layout and read-back are
    * identical by contract; benched separately so the steady-state loop and
    * the first-load path are each regression-tracked (the loop's ~84
    * jobs × fixed overhead dominates at sf0.1 and would otherwise mask
    * movement in either path).
    */
  private val qEtlBulk: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-qb").toString
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.runBulk(Tables.orders(s, dir))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  /** The manifest-pruned steady-state twin of [[qEtlBackup]] (r5 verdict
    * task 1): the source lands as a TIME-ORDERED lake table (range-
    * partitioned by order date — the ingest reality), a StatsStore manifest
    * over the DERIVED month key is built once, and then each month's copy
    * opens only the files whose [min, max] month interval contains it — the
    * PRUNED lake drain (`IncrementalBackup.drain` of a `LakeSource`). Same
    * oracle as the unpruned loop: the manifest is a superset guarantee, so
    * results are identical; only the IO per iteration changes (file subset
    * instead of full history).
    */
  private val qEtlPruned: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-qp").toString
    // the time-ordered lake layout is the build-once INPUT (in production
    // it's what ingest already landed); the timed operator is the drain
    val src = Fixtures.getOrBuild(s"etllake:$dir") { f =>
      Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/src")
    }
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4, pruned = true)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.drain(etl.EtlRunner.LakeSource(s"$src/src"))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  /** The concurrent twin of [[qEtlPruned]]: same lake layout, same manifest,
    * but pending months drain with `maxParallel = 8` (MAX_PARALLEL) —
    * independent wave-copy jobs submitted from a worker pool instead of a
    * sequential loop, so the drain's wall clock is bounded by the widest
    * copy, not (#months × per-job latency). Same oracle: concurrency only
    * reorders completions; the at-rest layout and read-back are identical.
    */
  private val qEtlConc: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-qc").toString
    val src = Fixtures.getOrBuild(s"etllake:$dir") { f =>
      Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/src")
    }
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4, pruned = true,
      maxParallel = 8)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.drain(etl.EtlRunner.LakeSource(s"$src/src"))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  /** Land one wave's parquet files in the lake dir — the file-level append
    * ingest performs (no Spark job; names prefixed so waves' part numbers
    * can't collide).
    */
  private def landWave(srcDir: String, lakeDir: String, prefix: String): Unit = {
    landWaveListing(srcDir, lakeDir, prefix); ()
  }

  /** [[landWave]] returning the landed paths — what a journaling ingest
    * hands to [[graft.sources.IngestLog.record]].
    */
  private def landWaveListing(srcDir: String, lakeDir: String,
      prefix: String): Seq[String] = {
    val landed = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(srcDir))
    try stream.forEach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet")) {
        val dst = java.nio.file.Paths.get(lakeDir, s"$prefix$n")
        java.nio.file.Files.copy(p, dst)
        landed += dst.toString
      }
    } finally stream.close()
    landed.toSeq
  }

  /** The INCREMENTALLY-MAINTAINED-manifest twin of [[qEtlPruned]] (r6
    * verdict task 4), driven the way steady state actually runs: wave 1
    * (history) lands, a drain copies it and PERSISTS the manifest; wave 2's
    * files then land as a file-level append (what ingest does), and the
    * second drain's manifest refresh lists the directory and reads stats of
    * ONLY the new files (`StatsStore.collectExprDiff`, committed as a
    * manifest delta) before copying the new months through the bounded
    * worker pool. Same oracle as the other ETL
    * twins — the at-rest layout and read-back are identical by contract;
    * what changes is the drain-fixed cost, now proportional to NEW data
    * instead of history size (the r6 verdict's missing #2).
    */
  private val qEtlIncr: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-qi").toString
    val waves = Fixtures.getOrBuild(s"etllake2:$dir") { f =>
      Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-01-01"))
        .repartitionByRange(6, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w1")
      Tables.orders(s, dir).filter(col("o_orderdate") >= lit("1996-01-01"))
        .repartitionByRange(3, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w2")
    }
    val lake = s"$tmp/lake"
    landWave(s"$waves/w1", { java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(lake)); lake }, "w1-")
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4, pruned = true,
      maxParallel = 4)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.drain(etl.EtlRunner.LakeSource(lake))
    landWave(s"$waves/w2", lake, "w2-")
    job.drain(etl.EtlRunner.LakeSource(lake))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  /** [[qEtlIncr]] on a PARTITIONED lake (r7 verdict task 1): each wave
    * lands under its own `ingest=N/` partition directory — the layout real
    * lakes use (`date=…/`) and this repo's own backup writer produces
    * (`pid=…/`). Same oracle as every ETL twin: the manifest's RECURSIVE
    * listing plus basePath subset reads make the partitioned drain
    * result-identical to the flat one. This hash is exactly what the r7
    * hazard would have failed — nested files evicted as dead on the second
    * refresh, their months silently missing from the pruned copies.
    */
  private val qEtlIncrPart: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-qipt").toString
    val waves = Fixtures.getOrBuild(s"etllake2:$dir") { f =>
      Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-01-01"))
        .repartitionByRange(6, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w1")
      Tables.orders(s, dir).filter(col("o_orderdate") >= lit("1996-01-01"))
        .repartitionByRange(3, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w2")
    }
    val lake = s"$tmp/lake"
    def part(n: Int): String = {
      val p = s"$lake/ingest=$n"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      p
    }
    landWave(s"$waves/w1", part(1), "w1-")
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4, pruned = true,
      maxParallel = 4)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.drain(etl.EtlRunner.LakeSource(lake))
    landWave(s"$waves/w2", part(2), "w2-")
    job.drain(etl.EtlRunner.LakeSource(lake))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  /** The INGEST-JOURNALED twin of [[qEtlIncr]] (r9): each wave records the
    * files it landed in the lake's `_ingest_log/` sidecar, so the second
    * drain's manifest refresh consumes the journal and performs ZERO
    * full-lake listings (spec-asserted via the listing counter in
    * `EtlSpec`; here the result is pinned against the same oracle as every
    * ETL twin). At 100 TB this is the difference between a per-drain
    * multi-minute object-store LIST storm and an O(new waves) journal read.
    */
  private val qEtlJournal: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-qj").toString
    val waves = Fixtures.getOrBuild(s"etllake2:$dir") { f =>
      Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-01-01"))
        .repartitionByRange(6, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w1")
      Tables.orders(s, dir).filter(col("o_orderdate") >= lit("1996-01-01"))
        .repartitionByRange(3, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w2")
    }
    val lake = s"$tmp/lake"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lake))
    graft.sources.IngestLog.record(s, lake,
      landWaveListing(s"$waves/w1", lake, "w1-"))
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4, pruned = true,
      maxParallel = 4)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.drain(etl.EtlRunner.LakeSource(lake))
    graft.sources.IngestLog.record(s, lake,
      landWaveListing(s"$waves/w2", lake, "w2-"))
    job.drain(etl.EtlRunner.LakeSource(lake))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  /** The SKIP_LATEST_MONTHS twin (r9): the reference ships this knob on
    * every fact table (`agg_geo_lucid_daily.yaml:10`, applied
    * `sqoop_table.py:145`) — the newest N distinct months are not copied
    * until newer ones arrive. Two drains with skip=2: drain 1 defers the
    * newest two 1995 months, wave 2 slides the window and drain 2 promotes
    * them, so the final read-back is everything except the newest two
    * months of the FULL table — which is what the oracle states directly.
    * Discovery stays manifest-pruned throughout (scan-free when up to
    * date; spec-asserted in EtlSpec).
    */
  private val qEtlSkip: Q = (s, dir) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft-etl-qk").toString
    val waves = Fixtures.getOrBuild(s"etllake2:$dir") { f =>
      Tables.orders(s, dir).filter(col("o_orderdate") < lit("1996-01-01"))
        .repartitionByRange(6, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w1")
      Tables.orders(s, dir).filter(col("o_orderdate") >= lit("1996-01-01"))
        .repartitionByRange(3, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.parquet(s"$f/w2")
    }
    val lake = s"$tmp/lake"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lake))
    landWave(s"$waves/w1", lake, "w1-")
    val cfg = etl.JobConfig(tableName = "orders", numMappers = 4,
      skipLatestMonths = 2, pruned = true, maxParallel = 4)
    val job = new etl.IncrementalBackup(
      s, cfg, new etl.StatusStore(s, s"$tmp/status"), s"$tmp/dest")
    job.drain(etl.EtlRunner.LakeSource(lake))
    landWave(s"$waves/w2", lake, "w2-")
    job.drain(etl.EtlRunner.LakeSource(lake))
    job.readBack()
      .groupBy(col("pid").cast("long").as("month_sid"))
      .agg(count(lit(1)).as("n_rows"),
        Exact.sumExact(col("o_totalprice")).as("total"))
      .orderBy("month_sid")
  }

  private val etlSkipSql =
    s"""SELECT month_sid, COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
       |FROM (SELECT $monthSidSql AS month_sid, o_totalprice FROM orders)
       |WHERE month_sid <= (
       |  SELECT DISTINCT month_sid
       |  FROM (SELECT $monthSidSql AS month_sid FROM orders)
       |  ORDER BY month_sid DESC LIMIT 1 OFFSET 2)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_etl_backup", Pipeline, qEtlBackup, etlBackupSql),
    QuerySpec("q_etl_bulk", Pipeline, qEtlBulk, etlBackupSql),
    QuerySpec("q_etl_pruned", Pipeline, qEtlPruned, etlBackupSql),
    QuerySpec("q_etl_conc", Pipeline, qEtlConc, etlBackupSql),
    QuerySpec("q_etl_incr", Pipeline, qEtlIncr, etlBackupSql),
    QuerySpec("q_etl_incr_part", Pipeline, qEtlIncrPart, etlBackupSql),
    QuerySpec("q_etl_journal", Pipeline, qEtlJournal, etlBackupSql),
    QuerySpec("q_etl_skip", Pipeline, qEtlSkip, etlSkipSql),
    QuerySpec("q_partition_discovery", Batch, qPartitionDiscovery, partitionDiscoverySql),
    QuerySpec("q_oldest_pending", Batch, qOldestPending,
      (partitionDiscoverySql.replace("ORDER BY d.month_sid", "ORDER BY d.month_sid LIMIT 1"))),
    QuerySpec("q_partition_rowcount", Batch, qPartitionRowcount,
      s"SELECT COUNT(*) AS cnt FROM orders WHERE $monthSidSql = 199801"),
    QuerySpec("q_distinct_partitions", Batch, qDistinctPartitions,
      s"SELECT DISTINCT $monthSidSql AS month_sid FROM orders ORDER BY month_sid"),
    QuerySpec("q_bucket_histogram", Batch, qBucketHistogram,
      "SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket, COUNT(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1"),
    QuerySpec("q_schema_ddl", Batch, qSchemaDdl,
      "SELECT n_nationkey, n_name || ' ' || r_name AS ddl FROM nation JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey"),
    QuerySpec("q_customers_without_orders", Batch, qCustomersWithoutOrders,
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    QuerySpec("q_segment_with_orders", Batch, qSegmentWithOrders,
      "SELECT c_mktsegment, COUNT(*) AS n FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    QuerySpec("q_latest_order_per_customer", Batch, qLatestOrderPerCustomer,
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn = 1 ORDER BY o_custkey""".stripMargin))
}
