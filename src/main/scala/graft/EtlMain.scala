package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.ParquetFooterSchema

import graft.etl.{EtlRunner, JobConfig, YamlConfig}
import graft.operators.ReferenceOps

/** The runnable analogue of the reference's whole deployment —
  * `run_sqoop_job.sh` driving the per-table YAML configs through the
  * incremental-backup loop. A reference user's invocation maps 1:1:
  *
  * {{{
  * runMain graft.EtlMain <sfDir> <workRoot> [<table>.yaml | table ...]
  * }}}
  *
  * A `.yaml` arg is a reference-format config file ([[graft.etl.YamlConfig]]
  * parses the exact `agg_geo_lucid_daily.yaml` keys; the table name is the
  * basename minus `.yaml`, like `sqoop_etl.py`'s
  * `sys.argv[1].replace('.yaml','')`). A bare table name runs with the
  * reference defaults. With no table args it runs the reference's exact
  * shape: monthly-partitioned fact tables sequentially (orders, lineitem —
  * the testdata's facts), then a full-snapshot dim (customer — the
  * `advertiser_dim.yaml` path with `PRIMARY_ID: ""`). Re-running resumes
  * idempotently, like the reference's restart: partitions the status store
  * has recorded are not discovered again, and completed ones are skipped. A
  * re-run over an up-to-date backup reads the status store and each fact
  * table's parquet footer only, and runs no Spark job: the footer's bounds
  * on the date column show every month recorded.
  *
  * Exit code 0 = every table ran (or was cleanly lock-skipped); the
  * per-table copied-partition counts print as one JSON line for
  * scripting, mirroring how the shell wrapper consumed sqoop's output.
  */
object EtlMain {

  /** Bind a config to its source relation. The testdata facts are
    * monthly-partitioned on their date column when the config asks for
    * `month_sid` (the reference's PRIMARY_ID); a snapshot config
    * (`PRIMARY_ID: ""`) takes the table as-is. The table file's schema is
    * read from its footer on the driver, so binding runs no inference job.
    */
  private def source(spark: SparkSession, sfDir: String,
      cfg: JobConfig): DataFrame = {
    val base = cfg.tableName match {
      case t @ ("orders" | "lineitem" | "customer") =>
        Tables.load(spark, sfDir, t,
          Some(ParquetFooterSchema.of(spark, new Path(s"$sfDir/$t.parquet"))))
      case other => sys.error(
        s"no testdata source for table '$other' (have orders|lineitem|customer)")
    }
    if (cfg.primaryId.isEmpty) base
    else {
      val dateCol = cfg.tableName match {
        case "orders"   => "o_orderdate"
        case "lineitem" => "l_shipdate"
        case "customer" => sys.error(
          "customer has no partition date; use PRIMARY_ID: \"\" (snapshot)")
      }
      base.withColumn(cfg.primaryId, ReferenceOps.monthSid(col(dateCol)))
    }
  }

  /** The full sequential run; returns the summary JSON line. Extracted
    * from `main` so tests drive it on the shared session (main owns the
    * session lifecycle; run never stops it).
    */
  def run(spark: SparkSession, sfDir: String, root: String,
      tableArgs: Seq[String]): String = {
    val cfgs: Seq[JobConfig] =
      if (tableArgs.isEmpty)
        Seq(JobConfig("orders"), JobConfig("lineitem"),
          JobConfig("customer", primaryId = "")) // dim: full snapshot
      else tableArgs.map {
        case y if y.endsWith(".yaml") => YamlConfig.load(y)._1
        case bare                     => JobConfig(bare)
      }
    val jobs = cfgs.map { cfg =>
      // LAKE_PATH configs read their own directory (and may select the
      // manifest-pruned PRUNED/MAX_PARALLEL drain); others bind a testdata
      // relation like the reference binds a warehouse table
      if (cfg.lakePath.nonEmpty)
        cfg -> (EtlRunner.LakeSource(cfg.lakePath): EtlRunner.EtlSource)
      else
        cfg -> (EtlRunner.RelationSource(source(spark, sfDir, cfg)): EtlRunner.EtlSource)
    }
    // Cross-table concurrency is a RUNNER knob (the reference gets it by
    // launching independent processes; run_sqoop_job.sh:15-25): >1 drains
    // that many tables in flight, each still selecting its own per-config
    // path (pruned incremental drain, within-table MAX_PARALLEL).
    val tablesInFlight =
      sys.env.getOrElse("SPARK_GRAFT_TABLES_PARALLEL", "1").toInt
    val results = EtlRunner.runAllFrom(spark, root, jobs, tablesInFlight)
    val line = results.toSeq.sortBy(_._1).map { case (t, r) =>
      s""""$t":${r.map(_.length).getOrElse(-1)}"""
    }.mkString("{", ",", "}")
    s"""{"etl_root":"$root","partitions_copied":$line}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val root = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-etl").toString)
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[8]"), "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(run(spark, sfDir, root, args.drop(2).toSeq))
    spark.stop()
  }
}
