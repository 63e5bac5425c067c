package graft.sources

import org.apache.spark.sql.DataFrame

import graft.etl.JobConfig

/** Tuned columnar sink — the reference's ORC table properties
  * (`/root/reference/sqoop_pyhive.py:53`: SNAPPY, 256 MiB stripes, 500k row
  * index stride, indexes on) expressed as Spark writer options. Spark writes
  * ORC directly; the reference's text-file intermediate hop
  * (`sqoop_pyhive.py:28-40`) has no Spark equivalent because none is needed.
  */
object OrcSink {

  /** Overwrite `path` with `df` in the configured format, one
    * `col=value` subdirectory per value of the `partitionBy` columns.
    */
  def write(df: DataFrame, path: String, cfg: JobConfig,
      partitionBy: Seq[String] = Nil): Unit = {
    val w0 = df.write.mode("overwrite")
    val w = if (partitionBy.isEmpty) w0 else w0.partitionBy(partitionBy: _*)
    cfg.outputFileFormat match {
      case "orc" =>
        w.format("orc")
          .option("compression", cfg.compression)
          .option("orc.stripe.size", cfg.orcStripeSize.toString)
          .option("orc.row.index.stride", cfg.orcIndexStride.toString)
          .option("orc.create.index", "true")
          .save(path)
      case "parquet" =>
        w.format("parquet").option("compression", cfg.compression).save(path)
      case "csv" => // the reference's TEXT_FILE transit format (data.json input 40)
        w.format("csv").option("header", "false").option("delimiter", ",").save(path)
      case other => sys.error(s"unsupported output format: $other")
    }
  }
}
