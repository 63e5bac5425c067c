package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Bounded

/** X5: multi-table run — the analogue of `run_sqoop_job.sh:15-25` driving 6
  * fact configs + 1 dim config. Tables run sequentially like the reference
  * unless [[runAllFrom]] is given more than one table in flight; each
  * table's copy is internally parallel (numMappers-way). Returns per-table
  * copied partitions. The runner takes no lock of its own: each table's
  * [[IncrementalBackup.drain]] takes the table's one lock, and a table whose
  * lock another writer holds is skipped (None), mirroring the reference's
  * lock-or-exit.
  */
object EtlRunner {

  /** What a table's copy reads: a bound relation (the reference's
    * warehouse-table shape — every operator sees a `DataFrame`) or a
    * LAKE directory, which additionally unlocks the manifest-pruned
    * incremental drain ([[JobConfig.pruned]]). Both are config-selected, so
    * the production entry point gets the steady-state path by YAML knob,
    * not only the bench queries (r6 verdict task 5).
    */
  sealed trait EtlSource
  final case class RelationSource(df: DataFrame) extends EtlSource
  final case class LakeSource(path: String) extends EtlSource

  /** Drain every table through [[IncrementalBackup.drain]], `maxParallel`
    * tables in flight.
    *
    * `maxParallel > 1` is what an operator gets on a real cluster by
    * launching several runner processes at once (each table's drain lock
    * already arbitrates exactly that), collapsed into one driver: each
    * table drains on its own thread against its own status store and lock,
    * and Spark interleaves the copy jobs' tasks. Tables are fully
    * independent (disjoint status/lock/dest paths by construction), so the
    * only shared state is the SparkSession, which is thread-safe for job
    * submission. A table locked by anyone, a sibling thread included, is
    * skipped as None (`sqoop_etl.py:52-57`).
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
      val backup = new IncrementalBackup(spark, cfg,
        new StatusStore(spark, s"$root/status/${cfg.tableName}"), s"$root/data")
      cfg.tableName -> (try Some(backup.drain(source, slots))
        catch { case _: DrainLockedException => None })
    }.toMap
}
