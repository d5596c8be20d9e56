package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** A user session summary emitted by the custom-state path. (Top-level:
  * nested/private case classes break the codegen'd Encoder.) */
case class SessionSummary(user_id: Long, n_events: Long, total_value: Double,
                          first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)

/** Mutable per-user state for [[EventStreams.userSessionSummaries]]. */
case class SessionState(n: Long, total: Double,
                        first: java.sql.Timestamp, last: java.sql.Timestamp)

/** A finalized session emitted by [[EventStreams.closedUserSessions]].
  * Bounds are epoch MICROS — the fixture's native ts precision, kept
  * exact so batch parity is bit-level (a millis `Timestamp` would
  * truncate). */
case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
                         n_events: Long)

/** Per-user open-session state for [[EventStreams.closedUserSessions]] —
  * epoch-micros bounds + count: constant bytes per user however long the
  * stream runs. */
case class OpenSession(start: Long, last: Long, n: Long)

/** One rank row of a user's running top-k, emitted by
  * [[EventStreams.runningTopKPerUser]]. */
case class TopKRow(user_id: Long, rank: Long, cents: Long)

/** `transformWithState` processor (the Spark 4 arbitrary-state v2 API,
  * RocksDB-backed): per user, a running TOP-K of event values in exact
  * cents. State is ONE fixed-k array per user — constant bytes however
  * long the stream runs — and each batch that touches a user re-emits
  * that user's full current top-k (Update-mode semantics: the latest
  * emission per user is the answer). The top-k of a multiset of values
  * is order-insensitive, so replay parity with the batch window form is
  * exact without any tie-break bookkeeping. */
class TopKProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), TopKRow] {
  @transient private var top: org.apache.spark.sql.streaming.ValueState[Array[Long]] = _

  override def init(outputMode: OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    top = getHandle.getValueState[Array[Long]]("top",
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               tv: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[TopKRow] = {
    val cur = if (top.exists()) top.get() else Array.empty[Long]
    val merged = (cur ++ rows.map(_._2)).sorted(Ordering[Long].reverse).take(k)
    top.update(merged)
    merged.iterator.zipWithIndex.map { case (v, i) => TopKRow(key, i + 1L, v) }
  }
}

/** Structured Streaming tier over the `events` table shape.
  *
  * The reference's "streaming" is a daily batch re-run (`@daily` DAG,
  * /root/reference sp_airflow/dags/spotify_etl_v2.py:409); Structured
  * Streaming with `Trigger.AvailableNow` reproduces exactly that batch
  * semantics while the same code keeps working as a live micro-batch job —
  * watermarks bound state at 100 TB/day rates, and every aggregation here
  * is keyed so state is partitioned across executors.
  */
object EventStreams {

  /** Open a parquet DIRECTORY as the events stream (FileStreamSource tails
    * directories — new files appear as new micro-batch input, the layout a
    * landing zone actually has). `ts` is normalized to µs `TimestampType`
    * by the same [[graft.Tables.normalizeEventTs]] the batch loader uses —
    * the fixture has shipped both nanos-as-long and `TIMESTAMP_NTZ`
    * encodings, and `withWatermark` hard-rejects anything but `TIMESTAMP`
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). `schemaFrom` points at any
    * existing events parquet for the schema, resolved once per session by
    * [[graft.Tables.schema]]. */
  def readEventsStream(spark: SparkSession, streamDir: String,
                       schemaFrom: String): DataFrame =
    Tables.normalizeEventTs(spark.readStream.schema(Tables.schema(spark, schemaFrom))
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir))

  /** Tumbling-window event counts with a watermark bounding late data (and
    * therefore state size). */
  def tumblingCounts(events: DataFrame, windowLen: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window per-user activity. */
  def slidingUserActivity(events: DataFrame, windowLen: String, slide: String,
                          watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n"))

  /** Session windows: built-in `session_window` with a fixed inactivity gap. */
  def sessionCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n"))

  /** Streaming exact dedup on event_id bounded by the watermark — the
    * streaming face of the dedup tier (state = one key per event inside the
    * watermark horizon, partitioned by key). */
  def dedupStream(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Running per-user top-k event values via `transformWithState` — the
    * Spark 4 arbitrary-state v2 API ([[TopKProcessor]]): requires the
    * RocksDB state store (the caller's session must set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `RocksDBStateStoreProvider`; StreamingSpec does). Update-mode
    * emissions: the LATEST rows per user are its current top-k, and an
    * `AvailableNow` replay's final emissions equal the batch window
    * top-k ([[graft.Queries.qRunningTopk]] — the oracle-checked batch
    * statement of this operator's contract). */
  def runningTopKPerUser(events: DataFrame, k: Int): Dataset[TopKRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.where(col("value").isNotNull)
      .select(col("user_id"),
        expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }


  /** Custom stateful sessionization via `mapGroupsWithState`: one evolving
    * summary per user, emitted each batch. Demonstrates the arbitrary-state
    * API the built-in windows can't express (e.g. conversation-level
    * accumulation in an LLM data feed).
    *
    * `evictAfter = Some("10 minutes")` arms a processing-time timeout that
    * evicts idle state in a LIVE stream. Leave it None for
    * `Trigger.AvailableNow` replays: with a timeout armed, AvailableNow
    * keeps scheduling micro-batches until every timeout fires — a
    * "finished" replay that spins for the whole timeout duration. */
  def userSessionSummaries(events: DataFrame,
                           evictAfter: Option[String] = None): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf = if (evictAfter.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionSummary](timeoutConf) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionSummary(userId, s.n, s.total, s.first, s.last)
          } else {
            val batch = rows.toSeq
            val first = batch.minBy(_._2.getTime)._2
            val last = batch.maxBy(_._2.getTime)._2
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, first, last))
            val next = SessionState(
              prev.n + batch.size,
              prev.total + batch.map(_._3).sum,
              if (first.before(prev.first)) first else prev.first,
              if (last.after(prev.last)) last else prev.last)
            state.update(next)
            evictAfter.foreach(state.setTimeoutDuration)
            SessionSummary(userId, next.n, next.total, next.first, next.last)
          }
      }
  }

  /** Closed-session EMISSION via `flatMapGroupsWithState` — the 0..n-output
    * form of the arbitrary-state API (`mapGroupsWithState` must emit exactly
    * one row per group per batch; session closure is inherently 0..n):
    * each user's state holds ONLY the currently-open session (start, last
    * seen, count — constant bytes per user, the reason this beats buffering
    * raw events), and a session row is emitted the moment a gap larger than
    * `gapMinutes` proves it closed. A user's trailing session stays in
    * state — in a live stream it closes when later events (or an armed
    * timeout) advance the clock; in an `AvailableNow` replay it is the one
    * deliberately-unemitted session per user, which is exactly what the
    * batch-parity spec asserts against.
    *
    * Within one micro-batch a group's rows arrive unordered, so the handler
    * sorts the BATCH's timestamps (bounded by the micro-batch, never the
    * stream). Cross-batch lateness: an event that lands inside (or within
    * the gap of) the still-open session MERGES into it, extending `start`
    * backwards and `last` forwards symmetrically (min/max); events more
    * than the gap BEFORE the open session chain among themselves and close
    * as their own provably-finished sessions (they can never stretch the
    * open session's start past the gap); an event late relative to an
    * ALREADY-EMITTED session cannot retract it and starts a new session
    * instead — the same no-retraction contract as the built-in
    * `session_window` in append mode (a watermark is what bounds that
    * second case in production). */
  def closedUserSessions(events: DataFrame, gapMinutes: Int): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[OpenSession]) =>
          // Interval-merge sessionization: each batch event is a unit
          // interval, the still-open state session an atomic one; chain
          // intervals whose gap is <= gapUs in start order. Handles every
          // cross-batch lateness shape uniformly — a late event inside (or
          // within the gap of) the open session merges and may extend its
          // start BACKWARDS; late events more than the gap BEFORE it chain
          // among THEMSELVES and close as their own sessions (never
          // stretching the open session's start past the gap). All but the
          // trailing chained session are provably closed and emitted; the
          // trailing one stays in state — the same no-retraction contract
          // as the built-in `session_window` in append mode.
          val items = (rows.map { case (_, t) => OpenSession(t, t, 1L) } ++
            state.getOption.iterator).toArray.sortBy(s => (s.start, s.last))
          val out = Seq.newBuilder[ClosedSession]
          var open: Option[OpenSession] = None
          items.foreach { it =>
            open match {
              case Some(s) if it.start - s.last <= gapUs =>
                open = Some(OpenSession(s.start,
                  math.max(s.last, it.last), s.n + it.n))
              case Some(s) =>
                out += ClosedSession(userId, s.start, s.last, s.n)
                open = Some(it)
              case None =>
                open = Some(it)
            }
          }
          open.foreach(state.update)
          out.result().iterator
      }
  }

  /** Batch statement of [[closedUserSessions]]'s contract: lag/gap
    * sessionization of the full log minus each user's trailing session —
    * the trailing one is still OPEN at end-of-input, exactly the row the
    * streaming operator deliberately has not emitted after an
    * `AvailableNow` replay (StreamingSpec asserts the two sets equal).
    * Every window is user-keyed (bounded by one user's history — never a
    * global sort); the open-tail drop is one more user-keyed window max
    * over the already-aggregated session rows. Epoch-microsecond output
    * so the contract is engine-portable. */
  def closedSessionsBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("__new_s",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("__sid", sum(col("__new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("__mx",
        max(col("__sid")).over(Window.partitionBy(col("user_id"))))
      .where(col("__sid") < col("__mx"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
  }

  /** Stream-stream interval join: pair each left event with right events of
    * the same user within `[left.ts, left.ts + window]`. Both sides carry
    * watermarks so the join state is bounded — Spark drops buffered rows
    * once they can no longer match (the requirement for an unbounded
    * stream-stream join to run at all). */
  def intervalJoin(left: DataFrame, right: DataFrame, watermark: String,
                   window: String): DataFrame = {
    val l = left.select(col("user_id"), col("event_id").as("l_event_id"),
      col("ts").as("l_ts"), col("event_type").as("l_type"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user_id"),
      col("event_id").as("r_event_id"), col("ts").as("r_ts"),
      col("event_type").as("r_type"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window") &&
        col("l_event_id") =!= col("r_event_id"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("l_type"), col("r_type"))
  }

  /** Stream-static enrichment join: each streaming event picks up its
    * user's dimension attributes. The static side is explicitly broadcast —
    * a stream-static join never buffers stream state (each micro-batch
    * joins against the current static snapshot), so this is the zero-state
    * enrichment shape for a 100 TB/day feed with a small dim. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, eventKey: String,
                    dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey))

  /** Idempotent per-batch parquet sink for `foreachBatch`: appends each
    * micro-batch under `outDir/data`, guarded by a commit-log marker file
    * per `batchId` (`outDir/_graft_commits/<batchId>`). On failure/replay
    * Structured Streaming re-runs a batch with the SAME batchId — the
    * marker makes the second delivery a no-op, upgrading the sink's
    * at-least-once contract to effectively-once (the engine-side analog of
    * the reference's `if_generation_match=0` precondition,
    * scripts/create_artist_batches.py:40). The marker is written AFTER the
    * data commit: a crash between the two re-appends that batch — write
    * batch files under a deterministic per-batch path so the re-append
    * overwrites rather than duplicates. */
  def idempotentParquetBatchWriter(outDir: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val hconf = batch.sparkSession.sparkContext.hadoopConfiguration
      val commitDir = new org.apache.hadoop.fs.Path(s"$outDir/_graft_commits")
      val fs = commitDir.getFileSystem(hconf)
      val marker = new org.apache.hadoop.fs.Path(commitDir, batchId.toString)
      if (!fs.exists(marker)) {
        // deterministic per-batch subdir: replays overwrite, never duplicate
        batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/data/batch_id=$batchId")
        fs.mkdirs(commitDir)
        fs.create(marker, true).close()
      }
  }

  /** Stream `df` into an idempotent partitioned parquet sink via
    * foreachBatch, replaying all currently-available input. */
  def writeParquetIdempotent(df: DataFrame, outDir: String,
                             checkpoint: String): Unit = {
    val writer = idempotentParquetBatchWriter(outDir)
    val q = df.writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run any streaming frame to completion over the currently-available
    * input (batch-parity execution) into an in-memory table; returns the
    * final table content. */
  def runAvailableNow(df: DataFrame, queryName: String,
                      outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }
}
