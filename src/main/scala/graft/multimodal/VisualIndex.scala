package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent dHash signature index + online visual ingest gate — the
  * PERCEPTUAL twin of the text near-dup band index
  * (`Dedup.buildBandIndex` / `ingestGateBatch`): arriving images are
  * near-dup-checked against the accumulated corpus AND each other by
  * 64-bit dHash, without re-decoding any historical pixel.
  *
  * Store layout: one row per (signature × 16-bit quarter), partitioned by
  * `(q, qb)` where `qb = qhash % 64` — 256 partitions total. A probe
  * touches only the partitions its own quarters hash into (driver
  * enumerates ≤256 keys; the filter is a pure partition-column expression,
  * so pruning happens at file listing). Shuffle rows are 16-byte
  * (doc_id, sig) pairs; pixels never leave the decode task. Two sigs
  * within Hamming distance ≤ 3 share at least one exact quarter
  * (pigeonhole), so the gate is EXACT at that radius — same guarantee as
  * [[graft.dedup.Dedup.hammingPairs]].
  */
object VisualIndex {

  /** Explode sigs `(doc_id, sig)` into quarter rows (doc_id, sig, q,
    * qhash, qb).
    */
  private def quarters(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"), posexplode(
        transform(sequence(lit(0), lit(3)),
          q => call_function("shiftright", col("sig"), q * lit(16))
            .bitwiseAND(lit(0xffffL)))))
      .withColumnRenamed("pos", "q")
      .withColumnRenamed("col", "qhash")
      .withColumn("qb", pmod(col("qhash"), lit(64)).cast("int"))

  /** Write a base index from `(doc_id, sig)` rows. The quarters are
    * repartitioned BY CELL before the write (r12): a dynamic-partition
    * write otherwise emits up to (#input tasks × #cells) files — every
    * task opens a writer per cell it holds — while the cell-keyed shuffle
    * moves only 16-byte rows, caps the layer at one file per cell (the
    * minimum the layout permits) and scales write parallelism with the
    * cell count instead of the input split count.
    */
  def build(sigs: DataFrame, path: String, mode: String = "overwrite"): Unit =
    quarters(sigs).repartition(col("q"), col("qb"))
      .write.partitionBy("q", "qb").mode(mode).parquet(path)

  /** Append a batch's quarters (the post-probe step of the gate). */
  def append(sigs: DataFrame, path: String): Unit =
    build(sigs, path, mode = "append")

  /** Probe a batch against the index: candidate pairs via exact quarter
    * match (only matching `(q, qb)` partitions are read), verified by
    * `bit_count(xor)` ≤ maxHamming. Returns (new_id, indexed_id, hamming).
    */
  def probe(batchSigs: DataFrame, spark: SparkSession, path: String,
      maxHamming: Int): DataFrame = {
    val bq = quarters(batchSigs)
    // ≤ 4·64 = 256 driver-side keys — bounded by construction, not data
    val keys = bq.select((col("q") * 64 + col("qb")).cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val idx = graft.sources.Listing.read(spark, path)
      .filter((col("q") * 64 + col("qb")).isin(keys: _*))
      .select(col("q"), col("qhash"), col("doc_id").as("indexed_id"),
        col("sig").as("sig_idx"))
    bq.select(col("q"), col("qhash"), col("doc_id").as("new_id"),
        col("sig").as("sig_new"))
      .join(idx, Seq("q", "qhash"))
      .select(col("new_id"), col("indexed_id"),
        bit_count(col("sig_new").bitwiseXOR(col("sig_idx"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= lit(maxHamming))
  }

  /** One micro-batch through the visual ingest gate: batch-vs-index pairs
    * plus in-batch pairs, canonicalized `(hi_id, lo_id, hamming)` with
    * `hi_id > lo_id`. The caller appends the batch's quarters AFTER
    * probing, so across a drain every near-dup pair is evaluated exactly
    * once — in the micro-batch where its later member arrives — and the
    * pair set is micro-batch-boundary independent (the property that lets
    * one batch oracle replay the whole drain).
    */
  def gateBatch(batchSigs: DataFrame, spark: SparkSession, path: String,
      maxHamming: Int): DataFrame = {
    val vsIndex = probe(batchSigs, spark, path, maxHamming)
      .select(greatest(col("new_id"), col("indexed_id")).as("hi_id"),
        least(col("new_id"), col("indexed_id")).as("lo_id"), col("hamming"))
    val inBatch = graft.dedup.Dedup.hammingPairs(batchSigs, maxHamming)
      .select(col("doc_b").as("hi_id"), col("doc_a").as("lo_id"),
        col("hamming"))
    vsIndex.unionByName(inBatch).distinct()
  }
}
