package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** GPT-style sequence packing: concatenate documents (with a trailing
  * EOS token each) in a deterministic order and cut the token stream into
  * fixed-length training windows, emitting the MANIFEST of document spans
  * per window — the layout step every autoregressive pretraining pipeline
  * runs between "curated corpus" and "token shards". Documents straddle
  * window boundaries (that is the point: zero padding except the final
  * window of each shard), so one document may emit several spans.
  *
  * Scale design: a single global concatenation order would need a global
  * sort and a global prefix sum — the classic scale-killer. Real packers
  * pack WITHIN OUTPUT SHARDS, so that is the unit here: docs hash to
  * `shards` groups, and the prefix sum + window arithmetic run per shard
  * (`Window.partitionBy(shard)`) — one hash shuffle, in-partition sort,
  * all arithmetic closed-form and codegen'd. Shard count is chosen so a
  * shard's tokens fit a worker (100 TB / shards ≈ shard budget); window
  * ids never coordinate across shards. Assignment is fully deterministic
  * (doc_id order within shard), so re-runs and the SQL oracle reproduce
  * the manifest bit-for-bit — no RNG, unlike shuffle-based packers.
  *
  * Reference scope note: the reference pipeline (SURVEY §2) ends at ORC
  * tables; packing is a north-star addition of the training-data surface.
  */
object Packing {

  /** Tokens per document INCLUDING the EOS separator appended after it. */
  private def ntok(text: Column): Column =
    TextFunctions.tokenCount(text) + lit(1L)

  /** The span manifest: one row per (document × window it occupies).
    *
    * Columns: `shard`, `window_id` (per-shard, 0-based), `doc_id`,
    * `tok_from`/`tok_to` (the doc's token span landing in this window,
    * 0-based, end-exclusive, EOS = last token), `win_offset` (where the
    * span starts inside the window). Every window is exactly `seqLen`
    * tokens except each shard's last.
    */
  def packManifest(docs: DataFrame, seqLen: Int, shards: Int): DataFrame = {
    val L = lit(seqLen.toLong)
    val byShard = Window.partitionBy("shard").orderBy("doc_id")
    docs
      .select(col("doc_id"), ntok(col("text")).as("ntok"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"))
      .withColumn("tend", sum(col("ntok")).over(byShard))
      .withColumn("tstart", col("tend") - col("ntok"))
      // integer-exact window range this doc touches: [w0, w1]
      .withColumn("w0", expr(s"tstart div $seqLen"))
      .withColumn("w1", expr(s"(tend - 1) div $seqLen"))
      .select(col("shard"), col("doc_id"), col("ntok"), col("tstart"),
        explode(sequence(col("w0"), col("w1"))).as("window_id"))
      .select(
        col("shard"), col("window_id"), col("doc_id"),
        greatest(col("window_id") * L - col("tstart"), lit(0L)).as("tok_from"),
        least(col("ntok"), (col("window_id") + 1) * L - col("tstart"))
          .as("tok_to"),
        greatest(col("tstart") - col("window_id") * L, lit(0L))
          .as("win_offset"))
  }

  /** Incremental packing: pack a NEW wave of documents continuing each
    * shard's token stream exactly where the previous waves ended —
    * `priorTokens` is (shard, n_tokens) from [[packStats]] over history
    * (or the persisted running totals). Historical windows and spans never
    * change (append-only manifest); each shard's partially-filled final
    * window is COMPLETED by the next wave, so steady-state padding stays
    * one partial window per shard regardless of wave count. When every
    * wave-1 doc_id precedes every wave-2 doc_id within a shard (waves cut
    * by ingestion-ordered ids — the landing-directory reality), the union
    * of per-wave manifests is bit-identical to packing everything at once
    * (`PackingSpec` asserts it). Cost: the same one hash shuffle as
    * [[packManifest]] plus a broadcast of the (≤ shards)-row totals.
    */
  def packAppend(newDocs: DataFrame, priorTokens: DataFrame, seqLen: Int,
      shards: Int): DataFrame = {
    val L = lit(seqLen.toLong)
    val byShard = Window.partitionBy("shard").orderBy("doc_id")
    // The append-only guarantee REQUIRES every new doc_id to follow all
    // historical doc_ids within its shard. When the caller's totals carry
    // `max_doc_id` (see [[packTotals]]), that precondition is CHECKED on
    // every row, in the executors (raise_error — no collect): a violating
    // wave fails the job instead of silently emitting spans that overlap
    // committed history. Totals without the column keep the old contract
    // (documented-only) for backward compatibility.
    val hasMax = priorTokens.columns.contains("max_doc_id")
    val prior0 = priorTokens.select(
      (col("shard") +: col("n_tokens").as("prior") +:
        (if (hasMax) Seq(col("max_doc_id").as("hist_max")) else Nil)): _*)
    val base = newDocs
      .select(col("doc_id"), ntok(col("text")).as("ntok"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"))
      .join(broadcast(prior0), Seq("shard"), "left")
      .na.fill(0L, Seq("prior"))
    val checked =
      if (!hasMax) base
      else base.withColumn("doc_id",
        when(col("hist_max").isNotNull && col("doc_id") <= col("hist_max"),
          raise_error(concat(lit("packAppend: wave doc_id "),
            col("doc_id").cast("string"),
            lit(" does not follow historical max "),
            col("hist_max").cast("string"),
            lit(" in shard "), col("shard").cast("string"))).cast("long"))
          .otherwise(col("doc_id")))
    checked
      .withColumn("tend", sum(col("ntok")).over(byShard) + col("prior"))
      .withColumn("tstart", col("tend") - col("ntok"))
      .withColumn("w0", expr(s"tstart div $seqLen"))
      .withColumn("w1", expr(s"(tend - 1) div $seqLen"))
      .select(col("shard"), col("doc_id"), col("ntok"), col("tstart"),
        explode(sequence(col("w0"), col("w1"))).as("window_id"))
      .select(
        col("shard"), col("window_id"), col("doc_id"),
        greatest(col("window_id") * L - col("tstart"), lit(0L)).as("tok_from"),
        least(col("ntok"), (col("window_id") + 1) * L - col("tstart"))
          .as("tok_to"),
        greatest(col("tstart") - col("window_id") * L, lit(0L))
          .as("win_offset"))
  }

  /** Token-mass-aware shard assignment (r5 verdict task 8): `pmod(doc_id,
    * shards)` balances DOC COUNTS, so doc-length skew can overfill a
    * shard's token budget. This assigns by SIZE-RANKED ROUND-ROBIN within
    * hash super-groups: docs hash into `superGroups` groups, and inside
    * each group they are ranked by (ntok desc, doc_id) and dealt across
    * that group's `shards / superGroups` shards in rank order — the
    * round-robin relaxation of LPT greedy binning, which a window function
    * expresses exactly (deterministic, codegen'd, SQL-oracle-replayable;
    * true greedy is inherently sequential). Within a group the dealt loads
    * differ by at most one rank-row's spread; across groups hashing
    * averages masses out. At 100 TB, size `superGroups` so one group's doc
    * list fits a task (the window partitions by group — no global sort),
    * and widen `shards / superGroups` for more balance.
    */
  def balancedAssign(docs: DataFrame, shards: Int, superGroups: Int): DataFrame = {
    require(shards % superGroups == 0, "shards must be a multiple of superGroups")
    val spg = shards / superGroups
    val bySize = Window.partitionBy("sg").orderBy(col("ntok").desc, col("doc_id"))
    docs
      .select(col("doc_id"), ntok(col("text")).as("ntok"),
        pmod(col("doc_id"), lit(superGroups.toLong)).as("sg"))
      .withColumn("shard",
        col("sg") * lit(spg.toLong) +
          pmod(row_number().over(bySize) - lit(1), lit(spg)).cast("long"))
      .select(col("doc_id"), col("ntok"), col("shard"))
  }

  /** [[packManifest]] over the size-balanced assignment — identical window
    * arithmetic, only the doc→shard map changes.
    */
  def packManifestBalanced(docs: DataFrame, seqLen: Int, shards: Int,
      superGroups: Int): DataFrame = {
    val L = lit(seqLen.toLong)
    val byShard = Window.partitionBy("shard").orderBy("doc_id")
    balancedAssign(docs, shards, superGroups)
      .withColumn("tend", sum(col("ntok")).over(byShard))
      .withColumn("tstart", col("tend") - col("ntok"))
      .withColumn("w0", expr(s"tstart div $seqLen"))
      .withColumn("w1", expr(s"(tend - 1) div $seqLen"))
      .select(col("shard"), col("doc_id"), col("ntok"), col("tstart"),
        explode(sequence(col("w0"), col("w1"))).as("window_id"))
      .select(
        col("shard"), col("window_id"), col("doc_id"),
        greatest(col("window_id") * L - col("tstart"), lit(0L)).as("tok_from"),
        least(col("ntok"), (col("window_id") + 1) * L - col("tstart"))
          .as("tok_to"),
        greatest(col("tstart") - col("window_id") * L, lit(0L))
          .as("win_offset"))
  }

  /** Per-shard token masses under an assignment, with the balance number
    * an operator gates on: `max_shard_tokens / mean_shard_tokens`.
    */
  def shardBalance(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))

  /** Per-shard running totals for [[packAppend]]: token count PLUS the max
    * historical doc_id, which arms packAppend's append-only precondition
    * check. Use this (not a bare n_tokens projection) when threading state
    * between waves.
    */
  def packTotals(docs: DataFrame, shards: Int): DataFrame =
    docs
      .select(col("doc_id"), ntok(col("text")).as("ntok"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"))
      .groupBy(col("shard"))
      .agg(sum(col("ntok")).as("n_tokens"), max(col("doc_id")).as("max_doc_id"))

  /** Packing efficiency per shard: window count, token totals, and the
    * padding that exists ONLY in each shard's final window — the number an
    * operator watches to size `shards` (padding fraction ≈ shards × L/2 /
    * total tokens).
    */
  def packStats(docs: DataFrame, seqLen: Int, shards: Int): DataFrame = {
    val L = seqLen.toLong
    docs
      .select(ntok(col("text")).as("ntok"),
        pmod(col("doc_id"), lit(shards.toLong)).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr(s"(n_tokens + ${L - 1}) div $L").as("n_windows"),
        (expr(s"(n_tokens + ${L - 1}) div $L") * L - col("n_tokens"))
          .as("padding"))
  }
}
