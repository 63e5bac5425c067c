package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming surface over the `events` table.
  *
  * The reference is batch-only; its incremental drain loop
  * (`/root/reference/sqoop_etl.py:77-83`: process pending units until none
  * remain, durable status) is exactly `Trigger.AvailableNow` + checkpointing
  * — the checkpoint directory plays `sqoop_etl_status`. Watermarked windows
  * and typed session state are the north-star streaming additions.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class SessionUpdate(userId: Long, sessionStart: Timestamp,
      nEvents: Long, totalValue: Double, closed: Boolean)

  final case class SessionState(start: Long, last: Long, n: Long, total: Double)

  /** Streaming source over the events parquet (schema pinned — no inference).
    * Handles the TIMESTAMP(NANOS) storage the same way as
    * [[graft.Tables.events]]: nanos read as long (in a session built with
    * `nanosAsLong`, as every [[graft.GraftSession]] is), floor-converted
    * to µs.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // glob (not bare file path): FileStreamSource requires its basePath to be
    // a directory; the glob also matches events.parquet/part-* layouts
    val raw = spark.readStream.schema(schema).parquet(s"$sfDir/events*.parquet")
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // same normalization as Tables.events: UTC session tz makes the cast
        // an identity on wall-clock values, restoring plain TIMESTAMP for
        // unix_millis + watermarks downstream
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Tumbling-window counts/sums with a 30-minute watermark. State is bounded
    * by (watermark horizon × event-type cardinality) — safe at any input
    * rate; late rows beyond the watermark are dropped, not buffered. The sum
    * is exact-decimal (cast to double at the end) so the result is
    * independent of micro-batch partial-aggregation order — required for the
    * oracle-checked `q_events_hourly_stream`.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    hourlyAggOn(events.withWatermark("ts", "30 minutes"))

  /** The aggregation alone, for chaining after another stateful operator
    * that already established the watermark (re-defining it is disallowed
    * when multiple stateful operators run in one query).
    */
  def hourlyAggOn(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Exact.sumExact(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Stream-static enrichment join: attach dimension attributes to each
    * streamed event. The static side is planned per micro-batch, so Catalyst
    * broadcasts it when small (the usual dim-table case) — no stream-side
    * shuffle and no state store; an updated dim file is picked up on the
    * next batch. Left join keeps events whose key is missing from the dim.
    */
  def enrich(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Custom session state via mapGroupsWithState: a session closes after 30
    * minutes of user inactivity (event-time timeout keyed by watermark).
    */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[SessionUpdate] = {
    import spark.implicits._
    events.withWatermark("ts", "30 minutes").as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.EventTimeTimeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(userId, new Timestamp(s.start), s.n, s.total, closed = true)
          } else {
            val evs = batch.toSeq.sortBy(_.ts.getTime)
            val prev = state.getOption
            val s0 = prev.getOrElse(SessionState(evs.head.ts.getTime, 0L, 0L, 0.0))
            val s = evs.foldLeft(s0)((s, e) =>
              s.copy(last = e.ts.getTime, n = s.n + 1, total = s.total + e.value))
            state.update(s)
            state.setTimeoutTimestamp(s.last + 30 * 60 * 1000L)
            SessionUpdate(userId, new Timestamp(s.start), s.n, s.total, closed = false)
          }
      }
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp, tms: Long,
      event_id: Long, v4: Long)
  final case class OpenSession(start: Long, last: Long, n: Long, totalE4: Long)
  final case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, total_e4: Long)

  /** Closed-session emission via flatMapGroupsWithState (Append mode):
    * proper gap sessionization — a session closes when the next event of the
    * user is > `gapMs` later (emitted immediately) or when the event-time
    * timeout fires after `gapMs` of inactivity past the watermark (the
    * still-open tail island). Zero rows per open session, exactly one per
    * closed one — the 0..n-rows-per-group contract `mapGroupsWithState`
    * cannot express.
    *
    * Values are folded as exact ×10⁴ fixed-point longs (the stream-state
    * analogue of `Exact.sumExact`), so emitted totals are independent of
    * micro-batch boundaries and fold order — required for the oracle-checked
    * `q_stream_sessions`.
    */
  def sessionizeClosed(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L): Dataset[ClosedSession] = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("tms"),
        col("event_id"),
        (col("value").cast("decimal(18,4)") * lit(10000)).cast("long").as("v4"))
      .as[SessionEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, batch, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.start, s.last, s.n, s.totalE4))
          } else {
            val evs = batch.toSeq.sortBy(e => (e.tms, e.event_id))
            var open = state.getOption.orNull
            val closed = Seq.newBuilder[ClosedSession]
            evs.foreach { e =>
              if (open == null)
                open = OpenSession(e.tms, e.tms, 1L, e.v4)
              else if (e.tms - open.last > gapMs) {
                closed += ClosedSession(userId, open.start, open.last, open.n, open.totalE4)
                open = OpenSession(e.tms, e.tms, 1L, e.v4)
              } else
                open = OpenSession(open.start, e.tms, open.n + 1, open.totalE4 + e.v4)
            }
            state.update(open)
            state.setTimeoutTimestamp(open.last + gapMs)
            closed.result().iterator
          }
      }
  }

  final case class ChangeEvent(user_id: Long, tus: Long, event_id: Long,
      event_type: String)
  final case class OpenVersion(tpe: String, fromUs: Long, version: Long)
  final case class ClosedVersion(user_id: Long, event_type: String,
      version: Long, from_us: Long, to_us: Long)

  /** Streaming SCD Type-2 build (the streaming twin of [[graft.etl.Scd2]]):
    * each user's attribute stream folds into versioned validity intervals;
    * a version EMITS the moment the next change closes it (Append mode),
    * while the open current version lives only in state. Consecutive
    * repeats collapse exactly as in the batch builder, and the per-key
    * version counter rides in state, so the emitted rows are a prefix of
    * the batch build's closed versions regardless of micro-batch
    * boundaries — what makes `q_stream_scd2` oracle-checkable.
    */
  def scd2Stream(spark: SparkSession, events: DataFrame): Dataset[ClosedVersion] = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("event_type"))
      .as[ChangeEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenVersion, ClosedVersion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId, batch, state: GroupState[OpenVersion]) =>
          val evs = batch.toSeq.sortBy(e => (e.tus, e.event_id))
          var open = state.getOption.orNull
          val out = Seq.newBuilder[ClosedVersion]
          evs.foreach { e =>
            if (open == null)
              open = OpenVersion(e.event_type, e.tus, 1L)
            else if (e.event_type != open.tpe) {
              out += ClosedVersion(userId, open.tpe, open.version, open.fromUs, e.tus)
              open = OpenVersion(e.event_type, e.tus, open.version + 1)
            }
          }
          if (open != null) state.update(open)
          out.result().iterator
      }
  }

  final case class ValuedEvent(user_id: Long, tus: Long, event_id: Long, v4: Long)
  final case class RunningTotal(event_id: Long, user_id: Long, seq: Long,
      running_e4: Long)
  final case class SeqTotal(seq: Long, totalE4: Long)

  /** Per-user running sequence + exact running total via `transformWithState`
    * (the arbitrary-state API that supersedes *GroupsWithState; requires the
    * RocksDB state store). Every event emits its per-user sequence number
    * and the exact ×10⁴ fixed-point running total — both pure functions of
    * the (event-time, id)-ordered prefix, so micro-batch boundaries cannot
    * perturb them and the drained output is oracle-checkable against a
    * running-window SQL.
    */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, ValuedEvent, RunningTotal] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SeqTotal] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SeqTotal]("running",
        org.apache.spark.sql.Encoders.product[SeqTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ValuedEvent],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[RunningTotal] = {
      val evs = rows.toSeq.sortBy(e => (e.tus, e.event_id))
      var s = if (state.exists()) state.get() else SeqTotal(0L, 0L)
      val out = evs.map { e =>
        s = SeqTotal(s.seq + 1, s.totalE4 + e.v4)
        RunningTotal(e.event_id, key, s.seq, s.totalE4)
      }
      state.update(s)
      out.iterator
    }
  }

  /** [[RunningTotalProcessor]] wired over the events stream. */
  def runningTotals(spark: SparkSession, events: DataFrame): Dataset[RunningTotal] = {
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_id"),
        (col("value").cast("decimal(18,4)") * lit(10000)).cast("long").as("v4"))
      .as[ValuedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Stream-stream interval join: attribute each purchase to the same user's
    * clicks in the preceding 30 minutes. Both sides watermarked, and the
    * join condition bounds event-time distance — Spark uses the bound to
    * expire join state, so state is (watermark + interval) × arrival rate,
    * not unbounded history.
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "30 minutes")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** LEFT-OUTER stream-stream interval join: like [[clickAttribution]] but
    * purchases with NO qualifying click still emit, null-extended — the
    * "every purchase accounted for" contract. The outer row can only emit
    * once the CLICK watermark has passed its purchase time (no earlier
    * click can still arrive); until then it waits in state. Same bounded
    * state envelope as the inner join plus the pending-outer rows inside
    * the horizon.
    */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "30 minutes")
    p.join(c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Streaming exact dedup: drop events with a duplicate `event_id` arriving
    * within the watermark horizon — state is bounded by (horizon × arrival
    * rate), the streaming analogue of `Dedup.exactByFingerprint`.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming upsert via foreachBatch → merge-on-read deltas: each
    * micro-batch appends its latest-row-per-key as a delta batch (no
    * read-modify-write of the base), and readers resolve with
    * [[graft.etl.MergeOnRead.latest]]. The version is (event-time ms ×10⁶ +
    * event_id) — unique and monotone per key — so the resolved state is
    * independent of micro-batch boundaries AND of the order batches landed:
    * exactly the property that makes the streaming result oracle-checkable.
    */
  def upsertStream(spark: SparkSession, inPath: String,
      schema: org.apache.spark.sql.types.StructType, deltaDir: String,
      checkpoint: String): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(inPath)
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("version").desc)
        batch
          .select(col("user_id"), unix_millis(col("ts")).as("tms"),
            col("value"), col("event_id"))
          .withColumn("version",
            col("tms") * lit(1000000L) + col("event_id"))
          .withColumn("__rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("user_id"), col("tms"), col("value"), col("version"),
            lit(graft.etl.MergeOnRead.UpsertOp).as("op"))
          .write.mode("append").parquet(deltaDir)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-side key purge — the in-flight half of the right-to-be-forgotten
    * mutation ([[graft.etl.Purge]] is the at-rest half): condemned keys are
    * filtered out of the ingest stream itself, so they never land in new
    * files at all. The condemned set is a static DataFrame broadcast into a
    * stream-static anti join — stateless, map-only per micro-batch (no
    * streaming state, no watermark), so it is safe at any input rate and the
    * broadcast is bounded by the deletion-request batch (thousands of keys,
    * never fact-sized). Drained AvailableNow, the reference's
    * process-pending-then-stop loop (sqoop_etl.py:77-83).
    */
  def purgeDrain(spark: SparkSession, sfDir: String, condemned: DataFrame,
      outDir: String, checkpoint: String): Unit = {
    val keyCol = condemned.columns.head
    val q = readEvents(spark, sfDir)
      .join(broadcast(condemned.select(col(keyCol).as("user_id")).distinct()),
        Seq("user_id"), "left_anti")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  final case class InterpPoint(user_id: Long, ts: Timestamp, tms: Long,
      event_id: Long, value: Double)
  final case class InterpState(pending: Seq[(Long, Double, Long)],
      prevT: Long, prevV: Double, sliceIdx: Int, hasPrev: Boolean)
  final case class InterpSlice(user_id: Long, slice_ms: Long,
      v_interp: Option[Double])

  /** Streaming TIMESERIES linear interpolation — the stateful twin of the
    * batch `q_timeseries_interp` gap fill: each user's purchase-value
    * series is resampled onto the fixed slice spine `t0, t0+step, …` with
    * linear interpolation between the bracketing observed points.
    *
    * Emission is WATERMARK-GATED: arriving points buffer in state and are
    * consumed — emitting every slice strictly before them — only once the
    * event-time watermark passes them, because only then can no earlier
    * bracket still arrive. That makes the output correct under ANY
    * micro-batch partitioning of the input, including out-of-order
    * delivery across batches (as long as disorder stays inside
    * `watermarkDelay`; rows later than that are dropped, the standard
    * watermark-late contract). Same-timestamp duplicates resolve to the
    * max-event_id value (the batch `max(struct(event_id, value))`
    * tie-break) BEFORE any emission. Tail slices after a user's last point
    * emit as null when the user times out — watermark past every buffered
    * point with nothing left pending: for a drain (AvailableNow + a flush
    * sentinel beyond max+delay) that is exactly end-of-input, the batch
    * null-after-last-point rule, making the drained output bit-identical
    * to the batch query and oracle-checkable against the SAME DuckDB SQL.
    * In a truly unbounded run the timeout approximates "series ended" —
    * a user resuming after an event-time gap longer than `watermarkDelay`
    * starts a fresh series (append mode cannot retract the nulls).
    *
    * Scale shape: state per user is the pending buffer + one consume
    * cursor. The buffer holds the points the watermark has not yet passed —
    * with time-ordered arrival (files in event-time order, the normal
    * replay layout) that is one watermark horizon of points per user; a
    * cold single-micro-batch replay of unordered history buffers the whole
    * series (watermark still 0), so large replays should arrive as
    * time-range-ordered multi-batch input. Emission is append-only.
    *
    * `seriesEndGapMs` is the sessionization-style end-of-series rule: the
    * tail emits only once the watermark is `seriesEndGapMs` of EVENT TIME
    * past the last consumed point — mere watermark advance between replay
    * batches must not end a series whose later points simply haven't
    * arrived yet. A drain's flush sentinel must therefore sit more than
    * `watermarkDelay + seriesEndGapMs` past the last real point.
    */
  def interpolateStream(spark: SparkSession, events: DataFrame, t0: Long,
      nSlices: Int, stepMs: Long,
      watermarkDelay: String = "30 minutes",
      seriesEndGapMs: Long = 60L * 86400000L): Dataset[InterpSlice] = {
    import spark.implicits._
    // NOTE: the purchase filter is deterministic, so Catalyst pushes it
    // BELOW the EventTimeWatermark node — only purchase rows reach the
    // watermark stats. A drain-end flush sentinel therefore has to BE a
    // purchase row (reserved user id), not a to-be-filtered event type.
    val typed = events
      .withWatermark("ts", watermarkDelay)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), unix_millis(col("ts")).as("tms"),
        col("event_id"), col("value"))
      .as[InterpPoint]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[InterpState, InterpSlice](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, batch, state: GroupState[InterpState]) =>
          def sliceT(i: Int): Long = t0 + i.toLong * stepMs
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(
            InterpState(Seq.empty, 0L, 0.0, 0, hasPrev = false))
          val out = Seq.newBuilder[InterpSlice]

          // merge new points into the buffer: drop watermark-late rows
          // (already consumed past), dedup same-timestamp to max event_id
          val arrived = batch.map(p => (p.tms, p.value, p.event_id)).toSeq
          val merged = (st.pending ++ arrived)
            .filter(p => !st.hasPrev || p._1 > st.prevT)
            .groupBy(_._1).map { case (_, ps) => ps.maxBy(_._3) }
            .toSeq.sortBy(_._1)

          // consume every point STRICTLY below the watermark: its brackets
          // are final, so the slices strictly before it emit now. Strictly —
          // a row exactly AT the watermark is not yet late by the engine's
          // contract, so a same-timestamp duplicate of it can still arrive
          // and must win the max-event_id tie-break before consumption.
          val (ready, still) = merged.partition(_._1 < wm)
          ready.foreach { case (tms, value, _) =>
            var i = st.sliceIdx
            while (i < nSlices && sliceT(i) < tms) {
              val s = sliceT(i)
              val v =
                if (st.hasPrev)
                  Some(st.prevV + (value - st.prevV) *
                    ((s - st.prevT).toDouble / (tms - st.prevT).toDouble))
                else None
              out += InterpSlice(uid, s, v)
              i += 1
            }
            st = InterpState(still, tms, value, i, hasPrev = true)
          }

          val seriesEnded =
            still.isEmpty && st.hasPrev && wm >= st.prevT + seriesEndGapMs
          if (seriesEnded || (still.isEmpty && !st.hasPrev && state.hasTimedOut)) {
            // end-of-series: nothing buffered and the watermark sits a full
            // series gap past the last consumed point — the remaining tail
            // emits as null and the user is done. (A user whose every point
            // was watermark-late has no spine in the batch result either —
            // remove without emitting.)
            state.remove()
            if (st.hasPrev)
              out ++= (st.sliceIdx until nSlices)
                .map(i => InterpSlice(uid, sliceT(i), None))
          } else {
            state.update(st.copy(pending = still))
            // re-arm: with points buffered, wake on the next watermark
            // advance to keep draining; with an empty buffer, wake only at
            // the series-end decision point
            state.setTimeoutTimestamp(
              if (still.nonEmpty) wm + 1
              else math.max(wm + 1, st.prevT + seriesEndGapMs))
          }
          out.result().iterator
      }
  }

  /** Drain-then-stop run, the reference's loop semantics: AvailableNow
    * processes everything present, checkpoints, stops.
    */
  def runAvailableNow(spark: SparkSession, sfDir: String, outDir: String,
      checkpoint: String): Unit = {
    val q = hourlyAgg(readEvents(spark, sfDir))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming windowed quantiles: per-hour p50/p95 of the event value via
    * `percentile_approx` inside the watermarked window state — the
    * GK-sketch shape a stream can afford (exact percentiles would buffer
    * every value; the sketch is O(accuracy) per open window and its
    * partials merge like any aggregate). The declared query validates each
    * emitted estimate against the batch data by its RANK ERROR — the
    * sketch's published guarantee (≤ n/accuracy) — as oracle-comparable
    * booleans, the q_approx_quantiles discipline.
    */
  def hourlyQuantilesDrain(spark: SparkSession, sfDir: String, outDir: String,
      checkpoint: String, accuracy: Int = 100): Unit = {
    val q = readEvents(spark, sfDir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr(s"percentile_approx(value, array(0.5D, 0.95D), $accuracy)")
          .as("qs"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("hour"),
        col("qs").getItem(0).as("p50"), col("qs").getItem(1).as("p95"),
        col("n_rows"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming approximate-distinct: per-hour distinct users via an HLL
    * sketch aggregate (lgK=12, ~1.6% RSE) inside the watermarked window
    * state — the cardinality shape a 100 TB stream needs, because an EXACT
    * streaming distinct would hold every key in state (Spark rightly
    * refuses `count(distinct)` on streams). The sketch is a few KB per
    * open window regardless of input rate; partials merge map-side like
    * any aggregate. Emitted rows carry the estimate + the window's row
    * count; the declared query joins them against the batch-exact distinct
    * and emits accuracy booleans as oracle-comparable data (the
    * q_approx_distinct discipline — the estimate is deterministic, so the
    * booleans are too).
    */
  def hourlyDistinctDrain(spark: SparkSession, sfDir: String, outDir: String,
      checkpoint: String): Unit = {
    val q = readEvents(spark, sfDir)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("hour"),
        expr("hll_sketch_estimate(sk)").as("est"), col("n_rows"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
