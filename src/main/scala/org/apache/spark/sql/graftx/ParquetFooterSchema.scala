package org.apache.spark.sql.graftx

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The data schema Spark's parquet source infers for one file, computed on
  * the calling thread from the file's footer. `spark.read.parquet(file)`
  * infers it through a Spark job (footer reads are distributed even for a
  * single file); this runs the same conversion — Spark's own row metadata
  * when the footer carries it, else the parquet-to-Spark type mapping
  * under the session's parquet options — without one. Lives here because
  * the session's `SQLConf` is `private[sql]`.
  */
object ParquetFooterSchema {
  def of(spark: SparkSession, file: Path): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    fromFooter(spark, file, footer)
  }

  /** [[of]] for a footer the caller has already read. */
  def fromFooter(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
}
