package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.JobLock
import graft.sources.Bounded

/** X5: multi-table run with per-table locking — the analogue of
  * `run_sqoop_job.sh:15-25` driving 6 fact configs + 1 dim config. Tables
  * run sequentially like the reference unless [[runAllFrom]] is given more
  * than one table in flight; each table's copy is internally parallel
  * (numMappers-way). Returns per-table copied partitions; locked tables are
  * skipped (None), mirroring the reference's lock-or-exit.
  */
object EtlRunner {

  /** What a table's copy reads: a bound relation (the reference's
    * warehouse-table shape — every operator sees a `DataFrame`) or a
    * LAKE directory, which additionally unlocks the manifest-pruned
    * incremental drain ([[JobConfig.pruned]]) and within-table copy
    * concurrency ([[JobConfig.maxParallel]]) — both config-selected, so
    * the production entry point gets the steady-state path by YAML knob,
    * not only the bench queries (r6 verdict task 5).
    */
  sealed trait EtlSource
  final case class RelationSource(df: DataFrame) extends EtlSource
  final case class LakeSource(path: String) extends EtlSource

  /** Drain every table through the path its config selects (relation
    * loop, lake full-scan loop, or manifest-pruned incremental drain with
    * bounded copy concurrency), `maxParallel` tables in flight.
    *
    * `maxParallel > 1` is what an operator gets on a real cluster by
    * launching several runner processes at once (the per-table `JobLock`
    * already arbitrates exactly that), collapsed into one driver: each
    * table drains on its own thread against its own status store and lock,
    * and Spark interleaves the copy jobs' tasks. Tables are fully
    * independent (disjoint status/lock/dest paths by construction), so the
    * only shared state is the SparkSession, which is thread-safe for job
    * submission. Lock semantics are unchanged: a table locked by anyone,
    * a sibling thread included, is skipped as None (`sqoop_etl.py:52-57`).
    * Once a table fails no queued table starts, the same stop as the
    * sequential run. Total jobs in flight ≤ maxParallel ×
    * max(JobConfig.maxParallel) — both knobs are explicit, nothing
    * multiplies silently — and an optional shared [[JobSlots]] budget caps
    * the FLEET additively: at most `budget` copy jobs in flight across all
    * tables, whatever the per-table pools would allow.
    */
  def runAllFrom(spark: SparkSession, root: String,
      jobs: Seq[(JobConfig, EtlSource)], maxParallel: Int = 1,
      slots: Option[JobSlots] = None): Map[String, Option[Seq[Long]]] =
    Bounded.map(jobs, maxParallel) { case (cfg, source) =>
      runOne(spark, root, cfg, source, slots)
    }.toMap

  private def runOne(spark: SparkSession, root: String, cfg: JobConfig,
      source: EtlSource, slots: Option[JobSlots])
      : (String, Option[Seq[Long]]) = {
    val lock = new JobLock(spark, s"$root/locks/${cfg.tableName}.lock")
    val result =
      if (!lock.acquire()) None // another runner owns this table (X1)
      else try {
        val store = new StatusStore(spark, s"$root/status/${cfg.tableName}")
        val backup = new IncrementalBackup(spark, cfg, store, s"$root/data")
        Some(source match {
          case RelationSource(df) => backup.run(df, slots)
          case LakeSource(path) if cfg.pruned =>
            // the steady-state production drain: persisted manifest
            // refreshed from NEW files only, month copies overlapped up to
            // MAX_PARALLEL
            backup.runPrunedIncremental(path, cfg.maxParallel, slots)
          case LakeSource(path) =>
            backup.run(spark.read.parquet(path), slots)
        })
      } finally lock.release()
    cfg.tableName -> result
  }
}
