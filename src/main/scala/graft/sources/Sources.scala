package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source readers covering the reference's ingest surface (SURVEY §2.1).
  *
  * S1 — parallel JDBC extract: the reference builds a whole staging-table +
  * sequence-modulo + boundary-query apparatus (`sqoop_table.py:75-104`,
  * `sqoop_json.py:31`) solely to give Sqoop a uniform integer split key.
  * Spark's JDBC partitioned read IS that contract natively
  * (`partitionColumn/lowerBound/upperBound/numPartitions` → per-executor
  * `WHERE key >= l AND key < u` stripes), so none of the apparatus survives.
  */
object Sources {

  /** S1: N-way parallel JDBC read, one stripe per executor task. */
  def jdbcPartitioned(
      spark: SparkSession, url: String, table: String, splitBy: String,
      lower: Long, upper: Long, numPartitions: Int,
      props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", splitBy)
      .option("lowerBound", lower)
      .option("upperBound", upper)
      .option("numPartitions", numPartitions)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** S2: full-table JDBC read (the `PRIMARY_ID=""` dim path, `sqoop_table.py:100`). */
  def jdbcFull(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** Warehouse-side aggregate execution: register a DSv2 JDBC catalog so
    * Spark pushes WHOLE aggregates (COUNT / MIN / MAX / SUM + GROUP BY)
    * into the database — the way the reference runs its row-count and
    * boundary probes inside Vertica (`sqoop_table.py:54-57`, `:145`)
    * instead of hauling rows out. The DSv1 `format("jdbc")` path (S1/S2)
    * pushes filters but always fetches rows before aggregating; the V2
    * `JDBCTableCatalog` compiles the aggregate to dialect SQL and, on an
    * unpartitioned read, executes it COMPLETELY warehouse-side (the plan
    * shows `PushedAggregates` and no row-level scan). Read tables as
    * `spark.table(s"\$name.<table>")`.
    *
    * Catalog instances are cached by name in the session's CatalogManager
    * after first resolution — callers must use a distinct `name` per URL.
    */
  def jdbcCatalog(spark: SparkSession, name: String, url: String,
      extra: Map[String, String] = Map.empty): Unit = {
    // the embedded test warehouse needs the FETCH FIRST spelling before
    // ordered probes can push their TopN warehouse-side
    DerbyProbeDialectRegistration.register()
    spark.conf.set(s"spark.sql.catalog.$name",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.url", url)
    spark.conf.set(s"spark.sql.catalog.$name.pushDownAggregate", "true")
    spark.conf.set(s"spark.sql.catalog.$name.pushDownLimit", "true")
    extra.foreach { case (k, v) =>
      spark.conf.set(s"spark.sql.catalog.$name.$k", v) }
  }

  /** S7: delimited-text source — the reference's Hive external text table
    * (`sqoop_pyhive.py:28-40`: FIELDS TERMINATED BY ',' LINES '\n').
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
      delimiter: String = ","): DataFrame =
    spark.read
      .option("delimiter", delimiter)
      .option("header", "false")
      .schema(schema) // explicit schema: no inference pass over 100 TB
      .csv(path)

  /** S9: columnar read-back (the Vertica-external-table-over-ORC role,
    * `sqoop_table.py:158-165`).
    */
  def orc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  /** JSONL (one JSON object per line) — the training-data interchange
    * format. Writes are gzip-compressed line JSON; reads take an explicit
    * schema (no inference pass over 100 TB) and tolerate missing fields as
    * nulls, the usual shape of heterogeneous crawled corpora.
    */
  def jsonlWrite(df: DataFrame, path: String, partitions: Int = 0): Unit = {
    val out = if (partitions > 0) df.repartition(partitions) else df
    out.write.mode("overwrite").option("compression", "gzip").json(path)
  }

  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Zstd-compressed JSONL shards — the de-facto interchange layout of
    * large public text corpora (a corpus directory of `NNNNN.jsonl.zst`
    * files). Spark's builtin json writer has no zstd text codec wired in
    * this container, so the sink streams `to_json` lines (a codegen
    * projection) through zstd per partition — one shard per partition,
    * `numShards` sizes them (O(100 MB)–O(1 GB) like crawl shards). A zstd
    * stream is non-splittable, so read parallelism is shard-granular: the
    * distributed binaryFile listing fans out one task per shard, which
    * decompresses, splits lines, and `from_json`s with the EXPLICIT schema
    * (no inference over 100 TB). See [[Codecs]] for why zstd.
    */
  def jsonlZstWrite(df: DataFrame, path: String, numShards: Int): Unit = {
    import df.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, struct, to_json}
    // Ship the SESSION's Hadoop conf to executors (object-store creds, FS
    // impls) — a fresh Configuration() on the executor would silently drop
    // them. Serialized as entries; Configuration itself isn't Serializable.
    val confEntries: Array[(String, String)] = {
      val hc = df.sparkSession.sparkContext.hadoopConfiguration
      val it = hc.iterator(); val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
      b.result()
    }
    // Overwrite semantics are settled DRIVER-side, before any task runs:
    // stale shards and orphaned attempt temps from a prior run are removed
    // here, where no speculative attempt can race the delete. Executors
    // then never delete the final name — so a zombie attempt can never
    // remove a sibling's committed shard.
    {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(dir))
        fs.listStatus(dir).map(_.getPath)
          .filter(p => p.getName.endsWith(".jsonl.zst") ||
            p.getName.contains(".jsonl.zst.attempt-"))
          .foreach(p => fs.delete(p, false))
    }
    val cols = df.columns.map(col)
    df.select(to_json(struct(cols.toIndexedSeq: _*)).as("line"))
      .repartition(numShards)
      .as[String]
      .foreachPartition { it: Iterator[String] =>
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val hc = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, v) => hc.set(k, v) }
        val fin = new org.apache.hadoop.fs.Path(f"$path/part-$pid%05d.jsonl.zst")
        // Task-commit protocol for a raw-FS sink: each attempt writes an
        // attempt-unique temp file, then renames onto the final name — a
        // speculative/zombie attempt racing a retry can never interleave
        // bytes into the shard; the last complete rename wins whole.
        val tmp = new org.apache.hadoop.fs.Path(
          f"$path/.part-$pid%05d.jsonl.zst.attempt-${tc.taskAttemptId()}")
        val fs = fin.getFileSystem(hc)
        // The finally-delete guarantees an aborted/lost attempt never leaves
        // a `.part-*.attempt-*` orphan; rename-failure-with-dest-present is
        // success (another attempt of this partition already committed a
        // whole file), so a zombie attempt can neither clobber the winner
        // nor spuriously fail the task.
        try {
          val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            Codecs.compress("zstd", fs.create(tmp, true)),
            java.nio.charset.StandardCharsets.UTF_8), 64 * 1024)
          try it.foreach { l => out.write(l); out.write('\n') }
          finally out.close()
          if (!fs.rename(tmp, fin) && !fs.exists(fin))
            throw new java.io.IOException(s"commit rename failed: $tmp -> $fin")
        } finally {
          if (fs.exists(tmp)) fs.delete(tmp, false)
        }
      }
  }

  def jsonlZst(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, from_json}
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jsonl.zst").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        // line-streaming decode: peak memory is the compressed shard (the
        // binaryFile row) + one line — never the whole decompressed text
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(
          Codecs.decompressFor(p, new java.io.ByteArrayInputStream(bytes)),
          java.nio.charset.StandardCharsets.UTF_8), 64 * 1024)
        Iterator.continually(br.readLine()).takeWhile(_ != null)
          .filter(_.nonEmpty)
      }
      .toDF("line")
      .select(from_json(col("line"), schema).as("r"))
      .select(col("r.*"))
  }

  /** JSONL ingest that TOLERATES malformed lines — the real shape of crawled
    * corpora. PERMISSIVE mode parses what it can; a broken line yields nulls
    * plus the raw text in `_corrupt_record`, so the pipeline can count,
    * quarantine, or sample bad records instead of failing the job (FAILFAST)
    * or silently dropping them (DROPMALFORMED).
    */
  def jsonlPermissive(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** A4: split-bound discovery — the reference's boundary query
    * `select min(rowId), <n> as max` (`sqoop_json.py:31`) generalized to
    * real min/max of the split column, feeding [[jdbcPartitioned]].
    */
  def boundsOf(df: DataFrame, column: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{max, min}
    val row = df.agg(min(column), max(column)).head()
    (row.getLong(0), row.getLong(1))
  }

  /** S10: Hadoop SequenceFile sink — the Sqoop `--as-sequencefile` shape
    * (the one alternate format of SURVEY §2.1 S10 the columnar sinks don't
    * cover): a splittable, block-compressed binary container of
    * (LongWritable key, Text record) pairs, record encoding = CSV via
    * `to_csv` so field formatting (timestamps, decimals, escaping) is
    * symmetric with [[sequenceFile]]'s `from_csv` read-back by
    * construction. The encode is a codegen projection; only the container
    * write is an RDD hop.
    */
  def sequenceFileWrite(df: DataFrame, keyCol: String, path: String): Unit = {
    import org.apache.spark.sql.functions.{col, struct, to_csv}
    val cols = df.columns.map(col)
    df.select(col(keyCol).cast("long"), to_csv(struct(cols.toIndexedSeq: _*)))
      .rdd.map(r => (r.getLong(0), r.getString(1)))
      .saveAsSequenceFile(path,
        Some(classOf[org.apache.hadoop.io.compress.DefaultCodec]))
  }

  /** S10: SequenceFile source — explicit schema (no inference), records
    * decoded by `from_csv` with the same options [[sequenceFileWrite]]
    * encoded with. Hadoop's reader splits block-compressed sequence files
    * at sync markers, so a 100 TB directory still fans out to one task per
    * split, same as the text formats.
    */
  def sequenceFile(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_csv}
    val values = spark.sparkContext
      .sequenceFile(path, classOf[org.apache.hadoop.io.LongWritable],
        classOf[org.apache.hadoop.io.Text])
      .map(_._2.toString)
    spark.createDataFrame(values.map(org.apache.spark.sql.Row(_)),
        StructType(Seq(org.apache.spark.sql.types.StructField(
          "value", org.apache.spark.sql.types.StringType))))
      .select(from_csv(col("value"), schema, Map.empty[String, String]).as("r"))
      .select(col("r.*"))
  }
}
