package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. At 100 TB each of these would be
  * a partitioned parquet/ORC directory; `spark.read.parquet` handles both
  * identically (file listing + partition pruning are built in), so the same
  * code path scales from sf0.001 to a 1000-executor cluster.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor the
    * TPC-H-ish generator produces (region=5 rows, nation=25 always).
    */
  val broadcastable: Set[String] = Set("region", "nation")

  /** Table `name`, its schema inferred by Spark (a job), or `schema` when
    * the caller already holds it.
    */
  def load(spark: SparkSession, sfDir: String, name: String,
      schema: Option[StructType] = None): DataFrame = {
    val file = s"$sfDir/$name.parquet"
    normalizeNtz(schema.fold(spark.read)(spark.read.schema).parquet(file))
  }

  /** The generator emits parquet TIMESTAMP(MICROS) without the
    * adjusted-to-UTC flag, which Spark 4 infers as TIMESTAMP_NTZ
    * (`o_orderdate`, `l_shipdate`, `events.ts`). All consumers and the
    * DuckDB oracle treat these as epoch-anchored instants, and every
    * entrypoint pins the session timezone to UTC, so casting NTZ→TIMESTAMP
    * is the identity on wall-clock values — it just restores the type the
    * whole catalog (unix_millis, watermarks, window ranges) was built on.
    */
  private def normalizeNtz(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        org.apache.spark.sql.functions.col(c).cast(org.apache.spark.sql.types.TimestampType))
    }

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  /** `events.ts` arrives in whatever physical type the generator emitted
    * that round — TIMESTAMP(NANOS) (which Spark's vectorized reader rejects;
    * read nanos as long and floor-convert) or TIMESTAMP(MICROS) without the
    * adjusted-to-UTC flag (which Spark 4 infers as TIMESTAMP_NTZ).
    * Normalize both to plain TIMESTAMP: every consumer (`unix_millis`,
    * watermarks, window ranges) and the DuckDB oracle (`epoch_ms`) assume
    * epoch-anchored micros, and the session timezone is pinned to UTC in
    * every entrypoint, so the NTZ→LTZ cast is the identity on the wall-clock
    * values the oracle sees.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
