package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.GraftExtensions

/** The one session builder of graft's own entry points: the harness mains
  * (Bench, Verify, Explain, PlanAudit, Timeq, ScaleBench, ScaleFixtures,
  * EtlMain) and the test suites. Every session setting graft's code relies
  * on is made here, once, when the session is built; library code writes
  * none into a running session:
  *  - the master, and the shuffle partition count;
  *  - the session time zone, pinned to UTC ([[Tables]] reads the
  *    testdata's timestamps as UTC instants);
  *  - no web UI;
  *  - [[org.apache.spark.sql.graftx.GraftExtensions]], the as-of join's
  *    planner strategy;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, so that a TIMESTAMP(NANOS)
  *    column reads as the long [[Tables.events]] converts;
  *  - the warehouse (the default database's dir, which the session catalog
  *    creates on first use) under the temp dir, not the working directory.
  * Callers add their own settings and call `getOrCreate()`.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .withExtensions(new GraftExtensions)

  /** [[builder]] for `local[cores]` with `cores` shuffle partitions. */
  def local(cores: String): SparkSession.Builder = builder(s"local[$cores]", cores)
}
